package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]).
  *
  * Scale design: brute-force is the *correctness baseline* — a broadcast of
  * the (small) query set against the full corpus, i.e. a map-side nested
  * loop with zero shuffle of the corpus. The scale path is
  * random-hyperplane LSH: each vector gets a b-bit signature; candidate
  * generation is an equi-join on the signature (or on multi-probe
  * neighbors), turning O(n·q) dot products into O(bucket) work per query.
  * At 100 TB the corpus side never shuffles its vectors: signatures (8
  * bytes) shuffle, vectors stay where the scan put them until the final
  * per-bucket rerank.
  */
object Similarity {

  /** Cosine similarity of two float-array columns (double accumulation,
    * sequential in index order — deterministic). Native codegen kernel:
    * the composable aggregate/zip_with form evaluates its lambdas
    * interpreted per element with boxing, which dominates every rerank
    * stage; [[graft.plans.CosineSimExpr]] is one primitive loop per pair
    * producing bit-identical results. */
  def cosine(a: Column, b: Column): Column =
    graft.plans.HashExpressions.cosine_sim(a, b)

  /** Brute-force top-k cosine neighbors for each query vector.
    * `queries` must be small (it is broadcast); the corpus is only mapped +
    * locally reduced — the shuffle carries q·k candidate rows, not vectors.
    *
    * Contract (shared by every query path here — brute, IVF, LSH):
    * `qidCol` shares the corpus id domain, and a corpus row whose id
    * EQUALS the query's id is excluded as a self-match — the
    * query-my-own-corpus shape (dedup, leave-one-out eval). External
    * query sets must use ids disjoint from the corpus (or a null-free
    * synthetic qid), or a coincidentally-shared id silently drops that
    * corpus vector from that query's candidates.
    *
    * The broadcast nested loop parallelizes per CORPUS partition, so a
    * small corpus arriving as one parquet split would run the whole
    * O(n·q) loop in a single task; spread it to the session's
    * parallelism first. At scale the scan already has ≥ cores splits
    * and the round-robin exchange is skipped. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val joined = spread(corpus.select(col(idCol), col(vecCol)))
      .join(broadcast(queries.select(col(qidCol), col(qvecCol))),
        col(idCol) =!= col(qidCol)) // exclude self-match
      .withColumn("sim", cosine(col(vecCol), col(qvecCol)))
    topKPerGroup(joined, k, qidCol, idCol)
  }

  /** Round-robin the frame to the session's parallelism when it arrives
    * in fewer partitions. Broadcast joins add no Exchange, so every
    * downstream map stage (join probe, cosine rerank, partial top-k)
    * inherits the scan's split count — and a small parquet file scans
    * as ONE split no matter how many cores exist. At scale the scan
    * already has ≥ cores splits and this is a no-op. */
  private def spread(df: DataFrame): DataFrame = graft.Q.spread(df)

  /** (group, id, sim) → best-first top-k per group via the bounded
    * [[TopK]] aggregator: partial aggregation truncates to k per group
    * on the MAP side, so the exchange carries ≤ k·partitions rows per
    * group instead of every scored row (what a row_number window would
    * shuffle). Ties break by ascending id — the oracles' order.
    * The aggregator's buffer keys ids as long, so non-integral id
    * columns (a long→string cast would silently null them) take the
    * generic window path instead — correct, just without map-side
    * truncation. */
  private[operators] def topKPerGroup(scoredIn: DataFrame, k: Int,
      groupCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    // Undefined similarities are EXCLUDED, deterministically, on both
    // paths: cosine is NaN for a zero vector (0/0) and null on length
    // drift. The native aggregate skips null/NaN inside update(), so
    // the integral-id path needs NO pre-filter — a filter on `sim`
    // here gets predicate-pushed into the upstream join CONDITION,
    // where Catalyst evaluates the cosine kernel once per null-check
    // per pair on top of the project's own evaluation. The window path
    // keeps the explicit filter (NaN would rank nondeterministically
    // in row_number's sort).
    val integralId = scoredIn.schema(idCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    if (integralId) {
      val idType = scoredIn.schema(idCol).dataType
      scoredIn
        .groupBy(col(groupCol))
        .agg(graft.plans.TopKAgg.top_k_agg(k)(
          col("sim"), col(idCol).cast("long")).as("__top"))
        .select(col(groupCol), posexplode(col("__top")).as(Seq("__p", "__e")))
        .select(col(groupCol), col("__e.id").cast(idType).as(idCol),
          col("__e.score").as("sim"), (col("__p") + 1).cast("int").as("rank"))
    } else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col(groupCol))
        .orderBy(col("sim").desc, col(idCol).asc)
      scoredIn.filter(col("sim").isNotNull && !isnan(col("sim")))
        .select(col(groupCol), col(idCol), col("sim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
    }
  }

  /** Corpus-wide k-nearest-neighbor self-join, exact: every vector's
    * top-k most-similar OTHERS by cosine — the semantic-dedup /
    * cluster-curation primitive (SemDeDup-style pipelines rank
    * within-cluster neighbors exactly like this). All-pairs via the
    * broadcast nested loop: the correctness baseline, O(n²) cosine —
    * fine to ~10⁵ vectors, NEVER the 100 TB path ([[knnJoinLsh]] is). */
  def knnJoinExact(corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    bruteForceTopK(corpus,
      corpus.select(col(idCol).as("qid"), col(vecCol).as("qvec")), k)

  /** [[knnJoinExact]]'s scale path: banded hyperplane LSH candidates
    * (ONE `hyperplane_band_sigs` kernel pass per vector; bucket-capped
    * equi-join — never all-pairs), exact cosine on the candidates only,
    * per-id top-k under the exchange (WindowGroupLimit). The shuffle
    * carries (id, band, band_hash) 20 B rows and then candidate id
    * pairs; vectors attach to candidates alone. Approximate by
    * construction: ids whose true neighbors share no band are missed —
    * recover recall by adding bands (spec pins recall vs exact and
    * monotonicity). Rows are (qid, vec_id, sim, rank), rank 1..≤k —
    * an id with no bucketed candidate yields no rows (score such
    * orphans with [[bruteForceTopK]] on the residual if the pipeline
    * needs total coverage).
    *
    * Defaults measured on the synthetic 64-dim corpus: 24×6-bit bands
    * reach ~0.72 top-3 recall (vs 0.15 at 8×8 — kNN neighbors are much
    * farther than near-DUPLICATES, so kNN wants more, shorter bands
    * than [[Dedup.embeddingNearDups]]'s 6×6).
    *
    * Regime: narrow band keys mean bucket sizes grow as n/2^bits, so
    * candidate volume turns quadratic past ~10⁶ vectors (measured in
    * SCALE.md's knn drill). For corpus-scale kNN use [[knnJoinIvf]],
    * whose cost stays linear for nlist ∝ n. */
  /** @param md5Basis draw hyperplane signs from the md5-prefix basis
    *   ([[graft.plans.HashKernels.hyperplaneBandSigsMd5]]) instead of
    *   xxhash — identical plan and cost (the sign matrix is memoized),
    *   but every band key replays in DuckDB, so the WHOLE query can
    *   face the strict oracle. */
  def knnJoinLsh(corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bands: Int = 24, bitsPerBand: Int = 6,
      maxBucket: Int = 1000, md5Basis: Boolean = false): DataFrame = {
    val cands = Dedup.minhashCandidates(
      Dedup.embeddingBands(corpus, idCol, vecCol, bands, bitsPerBand,
        md5Basis),
      idCol, maxBucket)
    // candidates are canonical (id1 < id2); kNN needs both directions
    val sym = cands.unionAll(
      cands.select(col("id2").as("id1"), col("id1").as("id2")))
    val vecs = corpus.select(col(idCol), col(vecCol))
    val scored = sym
      .join(vecs.select(col(idCol).as("id1"), col(vecCol).as("__v1")), "id1")
      .join(vecs.select(col(idCol).as("id2"), col(vecCol).as("__v2")), "id2")
      .select(col("id1").as("qid"), col("id2").as("vec_id"),
        cosine(col("__v1"), col("__v2")).as("sim"))
    topKPerGroup(scored, k, "qid", "vec_id")
  }

  /** The 100 TB kNN self-join: IVF. The coarse quantizer splits the
    * corpus into `nlist` cells of ~n/nlist vectors; each vector is
    * ASSIGNED once (its nearest cell) and PROBES its `nprobe` nearest
    * cells; candidates are the cell-equi-join of the two sides — a
    * shuffle on the cell id (both sides are the corpus, so no
    * broadcast), never all-pairs. Per-vector cost ≈ nprobe · n/nlist
    * exact cosines: take nlist ∝ n (fixed target cell size) and the
    * whole join is LINEAR in corpus size, unlike [[knnJoinLsh]] whose
    * far-neighbor recall forces narrow band keys and therefore
    * n²/2^bits candidate growth. Quantizer training samples
    * `trainFraction` of the corpus (at 100 TB train on a sliver).
    * Recall = P(true neighbor's home cell is among the query's nprobe
    * probes) — tune nprobe. A pair meets at most once (one home cell
    * per id). */
  def knnJoinIvf(corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nlist: Int = 64, nprobe: Int = 4,
      trainFraction: Double = 1.0,
      centroids: Option[Seq[(Int, Array[Float])]] = None): DataFrame = {
    // `centroids` bypasses training with a PERSISTED quantizer (a
    // writeIvfIndex sidecar): the production shape — train once, every
    // self-join and probe replays the same cells — and what lets an
    // external oracle replay assignment + probes from the same floats.
    centroids.foreach(cs => require(cs.size == nlist,
      s"knnJoinIvf: persisted quantizer has ${cs.size} cells but " +
        s"nlist=$nlist — pass the matching nlist"))
    val cents = centroids.getOrElse(
      trainCentroids(corpus, vecCol, nlist, trainFraction))
    val assigned = spread(corpus.select(col(idCol), col(vecCol)))
      .select(col(idCol), col(vecCol),
        nearestCell(col(vecCol), cents).as("cell"))
    val probes = corpus.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
      explode(probeCells(col(vecCol), cents, nprobe)).as("cell"))
    val scored = assigned.join(probes, Seq("cell"))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol),
        cosine(col(vecCol), col("qvec")).as("sim"))
    topKPerGroup(scored, k, "qid", idCol)
  }

  /** Random-hyperplane signature: bit i = sign(v · h_i) where h_i is a
    * deterministic pseudo-random hyperplane derived from (i, dim) via a
    * splitmix-style integer mix — reproducible with no stored model. */
  def hyperplaneSignature(vec: Column, bits: Int, offset: Int = 0): Column =
    graft.plans.HashExpressions.hyperplane_sig(vec, bits, offset)

  /** Train the coarse quantizer and return its centroids driver-side
    * (nlist × dim floats — a few KB, the legitimate "broadcast" size).
    *
    * Training is DRIVER-LOCAL Lloyd's over a bounded sample: the
    * cluster's only job is one sample scan (`trainFraction` +
    * `maxTrainRows` cap the collect); the ≤10 Lloyd iterations run on
    * the driver with a parallel assignment step instead of ~2 scheduled
    * Spark jobs per iteration — at 100 TB the quantizer trains on a
    * sliver of the corpus either way, and a distributed fit of a ≤64Ki
    * sample is pure scheduler overhead. k-means++ seeding with a fixed
    * LCG + a sorted training set make the centroids independent of
    * partition arrival order (bit-reproducible when the sample is the
    * whole corpus, as in every test/bench config). */
  def trainCentroids(corpus: DataFrame, vecCol: String, nlist: Int,
      trainFraction: Double = 1.0,
      maxTrainRows: Int = 1 << 16): Seq[(Int, Array[Float])] = {
    // The driver-local fit's ceiling, enforced rather than documented:
    // past a few thousand cells the Lloyd loop is
    // O(sample·nlist·d·iters) on one node AND the literal-folding
    // assignment/probe expressions downstream grow O(nlist) Catalyst
    // nodes. The nlist ∝ n sizing a 10⁹-vector corpus implies belongs
    // to the two-level path ([[trainCoarseHierarchical]]), whose fit
    // is distributed and whose kernels carry the quantizer as a
    // reference object.
    require(nlist <= 4096,
      s"trainCentroids: nlist=$nlist exceeds the driver-local fit's " +
        "ceiling (4096) — use trainCoarseHierarchical / " +
        "writeIvfIndexHier for large-nlist quantizers")
    val sampled =
      if (trainFraction < 1.0)
        corpus.sample(withReplacement = false, trainFraction, 42L)
      else corpus
    // Cap the collect WITHOUT a partition-order prefix: limit() alone
    // consumes partitions in order — on a topic-clustered layout that
    // trains every centroid in one region of the space, and a Bernoulli
    // pre-thin doesn't change that (the limit still cuts a prefix OF
    // THE SAMPLE). When the (sampled) corpus exceeds the cap, thin to
    // ~2× the cap (count() on parquet is metadata-cheap) and order by a
    // content hash before the limit: the cut is then a deterministic
    // function of the VALUES — no partition prefix — and the
    // orderBy+limit executes as TakeOrdered over the thinned rows
    // (bounded per-partition heap, no full sort shuffle; thinning
    // first keeps the merge at 2×cap rows, where TakeOrdered over the
    // raw corpus would merge cap×partitions). Spark's Bernoulli sampler
    // is partition-seeded, so bit-identical centroids across DIFFERENT
    // partitionings hold whenever the thin keeps everything (n ≤ 2×cap
    // — every test/bench config); above that the selection is still
    // content-hash-pseudo-random, never a layout prefix.
    val n = sampled.count()
    val (thinned, capped) =
      if (n > maxTrainRows)
        (sampled.sample(withReplacement = false,
          math.min(1.0, 2.0 * maxTrainRows / n), 4242L), true)
      else (sampled, false)
    val projected = thinned.select(col(vecCol).cast("array<float>").as("__v"))
    val collected =
      (if (capped)
        projected.orderBy(xxhash64(col("__v")), col("__v"))
          .limit(maxTrainRows)
      else projected).collect()
      .map(_.getSeq[Float](0).toArray).filter(_.nonEmpty)
    require(collected.nonEmpty, s"trainCentroids: no non-empty '$vecCol'")
    if (collected.length < 32L * nlist &&
        sparseTrainWarned.add((collected.length, nlist)))
      log.warn(s"trainCentroids: ${collected.length} training points " +
        s"for nlist=$nlist (${collected.length / math.max(1, nlist)} " +
        "per centroid, < 32) — cells will be statistically noisy; " +
        "raise trainFraction/maxTrainRows or lower nlist")
    lloydFit(collected, nlist, par = true)
      .zipWithIndex.map { case (c, i) => (i, c) }.toSeq
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)
  // (training points, nlist) pairs already warned about: the same
  // undersized fit recurs on every call over the same corpus, and one
  // line per JVM says all the warning has to say
  private val sparseTrainWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, Int)]()

  /** The deterministic local k-means both quantizer fits share:
    * content-sort (layout independence), k-means++ seeding on a fixed
    * LCG, ≤10 Lloyd iterations. `par` parallelizes the assignment step
    * across driver cores — executors calling this from inside a task
    * (the hierarchical level-2 fits) pass false to avoid thread
    * oversubscription; results are identical either way (assignment is
    * pure per point and order-preserved). Returns min(k, |data|)
    * centers. */
  private[operators] def lloydFit(collected: Array[Array[Float]],
      nlist: Int, par: Boolean): Array[Array[Float]] = {
    val data: Array[Array[Float]] = {
      implicit val fo: Ordering[Float] = Ordering.Float.TotalOrdering
      import scala.math.Ordering.Implicits._
      collected.sortBy(_.toSeq)
    }
    val k = math.min(nlist, data.length)
    def d2(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length); var s = 0.0; var i = 0
      while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // deterministic LCG in [0,1) — MMIX constants, seed 42
    var rng = 42L
    def nextRand(): Double = {
      rng = rng * 6364136223846793005L + 1442695040888963407L
      (rng >>> 11).toDouble / (1L << 53).toDouble
    }
    // k-means++ seeding: next center w.p. ∝ squared distance to nearest
    val centers = scala.collection.mutable.ArrayBuffer(
      data((nextRand() * data.length).toInt).clone())
    val minD2 = data.map(v => d2(v, centers(0)))
    while (centers.length < k) {
      val total = minD2.sum
      val target = nextRand() * total
      var acc = 0.0; var pick = 0
      var i = 0
      while (i < data.length && acc <= target) { acc += minD2(i); pick = i; i += 1 }
      centers += data(pick).clone()
      var j = 0
      while (j < data.length) {
        val d = d2(data(j), centers.last)
        if (d < minD2(j)) minD2(j) = d
        j += 1
      }
    }
    // Lloyd: parallel assignment (pure per point), sequential accumulate
    import scala.collection.parallel.CollectionConverters._
    val dim = data(0).length
    var cents = centers.toArray
    var moved = true
    var iter = 0
    while (moved && iter < 10) {
      val cs = cents
      def nearest(v: Array[Float]): Int = {
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cs.length) {
          val d = d2(v, cs(c)); if (d < bd) { bd = d; best = c }; c += 1
        }
        best
      }
      val assign =
        if (par) data.par.map(nearest).toArray else data.map(nearest)
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      var i = 0
      while (i < data.length) {
        val a = assign(i); val v = data(i); val s = sums(a)
        var j = 0
        val n = math.min(dim, v.length)
        while (j < n) { s(j) += v(j); j += 1 }
        counts(a) += 1; i += 1
      }
      val next = Array.tabulate(k) { c =>
        if (counts(c) == 0L) cents(c) // empty cell keeps its centroid
        else sums(c).map(x => (x / counts(c)).toFloat)
      }
      moved = (0 until k).exists(c => d2(next(c), cents(c)) > 1e-12)
      cents = next
      iter += 1
    }
    cents
  }

  /** Per-cell cosine sims as array<struct<sim, negCell>> — a pure
    * projection over literal (driver-broadcast) centroids: no join, no
    * Window, no Exchange. Struct ordering is lexicographic, so the max
    * element is the highest sim with ties going to the LOWEST cell id
    * (negCell trick). */
  private def cellSims(vec: Column, cents: Seq[(Int, Array[Float])]): Column =
    array(cents.map { case (i, c) =>
      struct(cosine(vec, typedLit(c.toSeq)).as("sim"),
        lit(-i).as("negCell"))
    }: _*)

  /** Nearest cell id of a vector — argmax cosine over the centroid
    * literals, evaluated row-local inside whole-stage codegen. */
  def nearestCell(vec: Column, cents: Seq[(Int, Array[Float])]): Column =
    (array_max(cellSims(vec, cents)).getField("negCell") * -1).as("cell")

  /** The `nprobe` nearest cell ids, best-first (sim desc, cell asc on
    * ties) — row-local like [[nearestCell]]. */
  def probeCells(vec: Column, cents: Seq[(Int, Array[Float])],
      nprobe: Int): Column =
    transform(slice(reverse(array_sort(cellSims(vec, cents))), 1, nprobe),
      s => s.getField("negCell") * -1)

  /** Shared rerank: candidates = cell-equi-join of the assigned corpus
    * against broadcast probes; exact cosine within probed cells only;
    * the only shuffle carries map-side-truncated ≤k-per-query buffers
    * (a pair meeting in several cells dedups inside the [[TopK]]
    * aggregator — no separate dropDuplicates exchange). */
  private def rerankWithinCells(assigned: DataFrame, probes: DataFrame,
      k: Int, idCol: String, vecCol: String, qidCol: String,
      qvecCol: String): DataFrame = {
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("sim", cosine(col(vecCol), col(qvecCol)))
      .select(col(qidCol), col(idCol), col("sim"))
    topKPerGroup(scored, k, qidCol, idCol)
  }

  /** IVF (inverted-file) ANN: a coarse k-means quantizer partitions the
    * corpus into `nlist` cells; each query probes its `nprobe` nearest
    * centroids and reranks exactly within those cells only.
    *
    * Scale: cell assignment is a pure expression over centroid literals
    * — the corpus is scanned once with zero Exchange of vectors; the
    * only shuffle in the whole plan carries (qid, id, sim) candidate
    * triples. For repeated querying materialize the assignment once
    * with [[writeIvfIndex]] and probe via [[ivfTopKFromIndex]], which
    * prunes unprobed cells at the parquet-partition level. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val cents = trainCentroids(corpus, vecCol, nlist)
    val assigned = spread(corpus.select(col(idCol), col(vecCol)))
      .select(col(idCol), col(vecCol),
        nearestCell(col(vecCol), cents).as("cell"))
    val probes = queries.select(col(qidCol), col(qvecCol),
      explode(probeCells(col(qvecCol), cents, nprobe)).as("cell"))
    rerankWithinCells(assigned, probes, k, idCol, vecCol, qidCol, qvecCol)
  }

  /** Materialize the IVF index: corpus written partitioned by its coarse
    * k-means cell, centroids as a tiny sidecar. At 100 TB this is the
    * load-bearing half of IVF — a probe then reads `nprobe` parquet
    * partitions instead of scanning the corpus (storage-level partition
    * pruning, see [[ivfTopKFromIndex]]). Assignment is the zero-shuffle
    * [[nearestCell]] expression; the partitioned write itself lays rows
    * out by cell without any preceding Exchange. */
  def writeIvfIndex(corpus: DataFrame, path: String, nlist: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainFraction: Double = 1.0,
      centroids: Option[Seq[(Int, Array[Float])]] = None): Unit = {
    // `centroids` bypasses the fit — the shared-quantizer / rebuild-
    // for-comparison shape, mirroring knnJoinIvf's parameter
    centroids.foreach(cs => require(cs.size == nlist,
      s"writeIvfIndex: persisted quantizer has ${cs.size} cells but " +
        s"nlist=$nlist — pass the matching nlist"))
    val cents = centroids.getOrElse(
      trainCentroids(corpus, vecCol, nlist, trainFraction))
    val spark = corpus.sparkSession
    withWriterLock(spark, path, "writeIvfIndex") { guard =>
      // pre-mutation construction stays ABOVE begin(): a failure here
      // is a pure refusal that releases the lock — the store has not
      // been touched (begin() is adjacent to the first disk mutation)
      val centDf = spark.createDataFrame(cents)
        .toDF("cell", "centroid")
      guard.begin()
      beginRebuild(spark, path)
      corpus.select(col(idCol), col(vecCol),
          nearestCell(col(vecCol), cents).as("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/index")
      centDf.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
      // append-era manifest, written LAST (build-time distortion from
      // the bytes on disk — the drift base for appendIvfIndex). Probes
      // read only centroids, so pre-meta stores keep probing; appends
      // refuse them with a rebuild instruction.
      val base = meanCellDistortionTable(
        spark.read.parquet(s"$path/index"),
        centTableOf(spark, cents), vecCol)
      import spark.implicits._
      writeSidecarAtomic(spark, s"$path/meta",
        Seq(base).toDF("base_distortion"))
    }
  }

  /** Append a batch to a [[writeIvfIndex]] (flat) layout — the
    * [[appendIvfIndexHier]] contract with the literal-fold assignment
    * and the one-dir-per-cell hive tree: batch assigned with the
    * PERSISTED centroids (never a re-fit; cost ∝ |batch|), per-cell
    * file adds, k-means-objective drift gate BEFORE any mutation,
    * `appends` log, meta manifest republished LAST by atomic versioned
    * swap ([[writeSidecarAtomic]]) — an append NEVER tears the store:
    * any reader mid-append sees the old manifest plus a valid subset
    * of the new rows (rows only ever add). Single-writer enforced via
    * the store lock. Requires an append-era store (rebuild pre-meta
    * stores). */
  def appendIvfIndex(batch: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      refitThreshold: Double = 2.0): Double = {
    val spark = batch.sparkSession
    withWriterLock(spark, path, "appendIvfIndex") { guard =>
    val cents = readCentroids(spark, path)
    val meta = flatMetaRow(spark, path)
    val base = baseDistortionOf(meta, path, "append")
    val assigned = batch.select(col(idCol), col(vecCol),
        nearestCell(col(vecCol), cents).as("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nRows = assigned.count()
      require(nRows > 0, s"append: empty batch for the $path store")
      val bDist = meanCellDistortionTable(assigned,
        centTableOf(spark, cents), vecCol)
      requireNoDrift(bDist, base, refitThreshold, path)
      guard.begin() // first mutation: a failure past here keeps the lock
      assigned.write.mode("append").partitionBy("cell")
        .parquet(s"$path/index")
      appendLogRow(spark, path, nRows, bDist, base, refitThreshold)
      import spark.implicits._
      writeSidecarAtomic(spark, s"$path/meta",
        Seq(rearmedBase(base, bDist)).toDF("base_distortion"))
      bDist
    } finally { assigned.unpersist(); () }
    }
  }

  /** THE meta-parquet presence check every manifest reader shares
    * (a torn/partially-copied store — or a pre-meta-era one — must
    * fail loudly, never default): one definition, so a committer-
    * marker fix cannot silently miss one of the three readers. */
  private def requireMetaParquet(spark: SparkSession,
      path: String): Unit = {
    val meta = new org.apache.hadoop.fs.Path(s"$path/meta")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ok = fs.exists(meta) && fs.listStatus(meta).exists { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
        !n.startsWith(".")
    }
    require(ok, s"no readable meta sidecar at $path/meta — torn or " +
      "partially-copied store, or one predating the current writer; " +
      "refusing to guess the layout (rebuild, or hand-write the " +
      "one-row meta)")
  }

  /** One-row flat-layout meta manifest — fail-loud presence per the
    * [[readIvfPqMeta]] convention. */
  private def flatMetaRow(spark: SparkSession,
      path: String): org.apache.spark.sql.Row = {
    requireMetaParquet(spark, path)
    readSidecarRows(spark, s"$path/meta").head
  }

  // ---- atomic versioned sidecars + single-writer enforcement ----------
  //
  // The store-mutation protocol every ANN layout shares (r15):
  //  * meta and the appends log are each ONE versioned parquet file
  //    (`v<n>.parquet`); a writer publishes the next version by
  //    tmp-write + atomic rename, THEN sweeps superseded versions — so
  //    a racing reader always resolves one complete manifest (old or
  //    new, never none, never a partial). Appends therefore never tear
  //    the store: mid-append a probe sees the old manifest plus a
  //    growing valid subset of the new rows (rows only ever add).
  //  * every mutator (build / append / compact) runs under the store's
  //    `.writer.lock` — single-writer enforced, because two interleaved
  //    sidecar swaps could publish a manifest that forgets the other
  //    writer's append. A crashed writer leaves the lock behind: the
  //    next mutator refuses loudly with recovery instructions while
  //    probes keep working ([[releaseWriterLock]] after inspection).
  //  * rebuild-in-place and compaction still mark the store formally
  //    torn (meta off) for their whole write window — they REWRITE data
  //    readers may hold listings of, so loud refusal beats a silently
  //    inconsistent read. Appends are the continuous-ingestion path and
  //    get the never-torn guarantee; rebuild/compact are maintenance.
  //
  // External replays stay valid: DuckDB's `meta/*.parquet` /
  // `appends/*.parquet` globs see exactly the one live version file
  // (pre-protocol stores fall back to the legacy whole-dir read).

  private val SidecarVersionRe = """v(\d{16})\.parquet""".r

  private def hadoopFs(spark: SparkSession, path: String)
      : org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  /** The newest protocol-versioned file under a sidecar dir, if any. */
  private def latestSidecarFile(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path)
      : Option[(org.apache.hadoop.fs.Path, Long)] =
    (if (fs.exists(dir)) fs.listStatus(dir).toSeq else Nil)
      .filter(_.isFile)
      .flatMap(st => st.getPath.getName match {
        case SidecarVersionRe(n) => Some((st.getPath, n.toLong))
        case _ => None
      })
      .sortBy(-_._2).headOption

  /** Read a sidecar dir: the max-version `v*.parquet` when the atomic
    * protocol is present, else the legacy whole-dir parquet read (so
    * stores written before the protocol keep reading unchanged).
    * NOTE for racing readers: a concurrent publish can sweep the
    * version this frame resolved to before an ACTION runs it — the
    * one-row manifest readers therefore go through [[readSidecarRows]]
    * (re-resolve + retry); DataFrame-returning consumers
    * ([[readAppendLog]] in a joined audit) either run against a
    * quiescent store or own their retry.
    *
    * The legacy branch re-checks for version files AFTER the
    * whole-dir load: a store's FIRST versioned publish renames
    * `v1.parquet` in and only then sweeps the legacy files, so in
    * that rename-to-sweep window the dir holds BOTH and a whole-dir
    * glob would silently read doubled rows (no exception, so
    * [[retryOnVanishedSidecar]] never engages). The load's own file
    * listing is complete by the time it returns, so if it could have
    * seen a version file, the re-check sees it too and prefers it;
    * if the version lands after the re-check, the sweep then deletes
    * the legacy files under the pinned listing → FileNotFound → the
    * caller's retry re-resolves. External whole-dir globs (DuckDB's
    * parquet-glob oracle replays over `meta/` and `appends/`) carry
    * no such re-check and are only valid against QUIESCENT stores —
    * the documented replay contract. */
  private def readSidecar(spark: SparkSession, dir: String): DataFrame = {
    val fs = hadoopFs(spark, dir)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    latestSidecarFile(fs, dirPath) match {
      case Some((f, _)) => spark.read.parquet(f.toString)
      case None =>
        val legacy = spark.read.parquet(dir)
        latestSidecarFile(fs, dirPath) match {
          case Some((f, _)) => spark.read.parquet(f.toString)
          case None => legacy
        }
    }
  }

  /** Materialize a sidecar's rows with the race closed: resolve the
    * latest version and COLLECT inside a bounded retry, so a
    * concurrent publish sweeping the resolved version between the
    * listing and the read (its rename+delete window) re-resolves to
    * the new version instead of surfacing FileNotFoundException — the
    * 'old or new, never none' promise, made true for readers racing a
    * live ingest loop. */
  private def readSidecarRows(spark: SparkSession,
      dir: String): Array[org.apache.spark.sql.Row] =
    retryOnVanishedSidecar { readSidecar(spark, dir).collect() }

  /** THE bounded retry both materializing sidecar readers share: a
    * concurrent publish can sweep the version a read resolved between
    * the listing and the action (its rename+delete window) — retry on
    * the three faces that race wears (found by the ingest500 drill's
    * genuinely-concurrent reader, not guessed): FileNotFoundException
    * from a task reading a swept file, AnalysisException
    * [PATH_NOT_FOUND] from the load-time footer read of a swept file,
    * and [UNABLE_TO_INFER_SCHEMA] from a protocol dir observed in its
    * first publish's mkdirs→rename window (exists, momentarily
    * empty). Re-resolve and retry ≤4 times with linear backoff; a
    * store that is GENUINELY broken still fails with the original
    * exception after ~0.5 s. Anything else propagates untouched. */
  private[graft] def retryOnVanishedSidecar[A](body: => A): A = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: Throwable if attempt < 4 && vanishedFileFace(e) =>
          attempt += 1
          Thread.sleep(50L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** THE vanished-file predicate, in ONE place — shared by
    * [[retryOnVanishedSidecar]] and the streaming restart supervisor
    * ([[graft.streaming.Streams]]), so a newly-discovered face of the
    * sweep/compaction race gets added once and both classifiers
    * agree. The faces (found by racing drills, not guessed): a task
    * reading a swept file (FileNotFoundException, which Spark 4 wraps
    * as FAILED_READ_FILE), a load-time footer read of one
    * (PATH_NOT_FOUND), and a dir observed mid-swap
    * (UNABLE_TO_INFER_SCHEMA). Cause walk is depth-bounded (exception
    * causes can cycle). */
  private[graft] def vanishedFileFace(t: Throwable,
      depth: Int = 0): Boolean = t != null && depth < 16 && {
    t.isInstanceOf[java.io.FileNotFoundException] || {
      val m = String.valueOf(t.getMessage)
      m.contains("PATH_NOT_FOUND") ||
        m.contains("UNABLE_TO_INFER_SCHEMA") ||
        m.contains("FAILED_READ_FILE") ||
        m.contains("FileNotFoundException")
    } || vanishedFileFace(t.getCause, depth + 1)
  }

  /** Publish `df` as the sidecar dir's next version ATOMICALLY: write
    * to a tmp dir beside it, rename the single part file in as
    * `v<n+1>.parquet` (the commit point — rename is atomic on HDFS and
    * posix filesystems alike), then sweep superseded versions and any
    * legacy unversioned files. A reader racing the publish resolves
    * either the old max or the new one — never zero, never a torn
    * file; a crash leaves at most a stray tmp dir or a superseded
    * version the next publish sweeps. */
  /** `minVersion`: a floor for the published version number. The
    * segmented appends log needs it because a seal renames the ONLY
    * version file away — without the floor the next publish would
    * restart at v1, and version-name REUSE breaks the protocol's core
    * immutability guarantee (a resolved version path must either read
    * the exact rows it named or vanish into the retry — never
    * silently resolve to a different generation's rows). */
  private def writeSidecarAtomic(spark: SparkSession, dir: String,
      df: DataFrame, preserve: String => Boolean = _ => false,
      minVersion: Long = 0L): Unit = {
    val fs = hadoopFs(spark, dir)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    // sweep stray tmp dirs a CRASHED publish left beside the sidecar
    // (we hold the writer lock, so any surviving tmp is dead)
    Option(dirPath.getParent).foreach { parent =>
      if (fs.exists(parent))
        fs.listStatus(parent).foreach { st =>
          if (st.isDirectory &&
              st.getPath.getName.startsWith(s"${dirPath.getName}.tmp-"))
            fs.delete(st.getPath, true)
        }
    }
    val next = math.max(
      latestSidecarFile(fs, dirPath).map(_._2).getOrElse(0L) + 1,
      minVersion)
    val tmp = s"$dir.tmp-${java.util.UUID.randomUUID}"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .find(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(
        s"sidecar publish: no part file written under $tmp"))
      .getPath
    fs.mkdirs(dirPath)
    val dest = new org.apache.hadoop.fs.Path(dirPath, f"v$next%016d.parquet")
    require(fs.rename(part, dest),
      s"sidecar publish: rename to $dest failed")
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    fs.listStatus(dirPath).foreach { st =>
      val n = st.getPath.getName
      if (st.isFile && n != dest.getName && !preserve(n) &&
          (n.endsWith(".parquet") || n == "_SUCCESS"))
        fs.delete(st.getPath, false)
    }
  }

  /** The mutation-phase sentinel [[withWriterLock]] hands its body:
    * `begin()` marks the point after which the store has (possibly
    * partially) mutated — a failure BEFORE it (drift refusal, torn
    * meta, empty batch) is side-effect-free and releases the lock; a
    * failure AFTER it leaves the lock IN PLACE, because the store may
    * hold data rows its appends log never admitted and the next
    * mutator (e.g. a streaming retry of the same batch) must not
    * re-append them blind. */
  private final class MutationGuard {
    @volatile private var begun = false
    def begin(): Unit = { begun = true }
    def hasBegun: Boolean = begun
  }

  /** Run `body` holding the store's single-writer lock. Concurrent
    * mutators refuse loudly (two interleaved manifest swaps could
    * publish a version that forgets the other writer's rows); probes
    * never take the lock. The lock releases when the body completes
    * OR fails before its [[MutationGuard.begin]] call (a pure
    * refusal); a failure after `begin()` — or a crashed JVM — leaves
    * the lock behind BY DESIGN: the store may hold data rows its
    * appends log never admitted, and the next mutator must not bless
    * (or re-append) them silently. */
  private def withWriterLock[A](spark: SparkSession, path: String,
      op: String)(body: MutationGuard => A): A = {
    val fs = hadoopFs(spark, path)
    val dirPath = new org.apache.hadoop.fs.Path(path)
    fs.mkdirs(dirPath)
    val lock = new org.apache.hadoop.fs.Path(dirPath, ".writer.lock")
    val acquired =
      try fs.createNewFile(lock)
      catch { case _: java.io.IOException => false }
    if (!acquired) {
      // stale-lock forensics: the refusal names the holder (op, pid,
      // acquire time, age) so an operator can tell a live writer from
      // a corpse BEFORE reaching for releaseWriterLock
      val holder =
        try {
          val in = fs.open(lock)
          try {
            val bytes = new Array[Byte](512)
            val n = in.read(bytes)
            if (n > 0) new String(bytes, 0, n,
              java.nio.charset.StandardCharsets.UTF_8).trim
            else "unknown (pre-forensics lock: no holder metadata)"
          } finally in.close()
        } catch { case _: java.io.IOException => "unreadable" }
      val age =
        try {
          val ms = System.currentTimeMillis() -
            fs.getFileStatus(lock).getModificationTime
          f"${ms / 1000.0}%.0f s"
        } catch { case _: java.io.IOException => "unknown" }
      throw new IllegalArgumentException(
        s"requirement failed: $op: writer lock already held at $lock " +
        s"(holder: $holder; lock age: $age) — single-writer is " +
        "enforced on ANN store mutations. If the holder is live, " +
        "wait for it; if it crashed or failed mid-mutation, inspect " +
        "the store (data rows without a matching appends-log entry " +
        "are the dead writer's partial batch — compact or rebuild), " +
        "then Similarity.releaseWriterLock(spark, path)")
    }
    // we own the lock: record holder metadata for the forensics above
    // (best-effort — a metadata-write failure must not fail the
    // mutation the lock exists to protect)
    try {
      val out = fs.create(lock, true)
      try out.write(
        (s"op=$op pid=${java.lang.ProcessHandle.current().pid()} " +
          s"acquired=${java.time.Instant.now()} " +
          s"app=${spark.sparkContext.applicationId}")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } catch { case _: java.io.IOException => () }
    val guard = new MutationGuard
    var failedAfterBegin = false
    try body(guard)
    catch {
      case e: Throwable =>
        failedAfterBegin = guard.hasBegun
        if (failedAfterBegin)
          log.error(s"$op: failed AFTER mutating $path — the writer " +
            "lock is retained so the next mutator refuses until the " +
            "store is inspected (partial rows have no appends-log " +
            "entry); releaseWriterLock after recovery", e)
        throw e
    } finally {
      if (!failedAfterBegin) fs.delete(lock, false)
      ()
    }
  }

  /** Manual recovery after a crashed writer: drop the store's
    * single-writer lock. Only after inspecting the store — see the
    * refusal message in [[withWriterLock]]. */
  def releaseWriterLock(spark: SparkSession, path: String): Unit = {
    hadoopFs(spark, path).delete(
      new org.apache.hadoop.fs.Path(s"$path/.writer.lock"), false)
    ()
  }

  private def centTableOf(spark: SparkSession,
      cents: Seq[(Int, Array[Float])]): DataFrame =
    spark.createDataFrame(cents.map { case (c, v) => (c, v.toSeq) })
      .toDF("cell", "__cent")

  private def requireNoDrift(bDist: Double, base: Double,
      refitThreshold: Double, path: String): Unit = {
    require(refitThreshold > 0, "refitThreshold must be positive")
    // a zero base means the build corpus quantized EXACTLY (rows ≤
    // cells, or codebooks covering every distinct subvector — normal
    // for a bootstrap-sized store): a multiplicative gate has no
    // scale there and would refuse every real batch forever, so warn
    // and admit instead — the appends log still records the absolute
    // distortions for the operator to threshold by hand
    if (base <= 0.0)
      log.warn(s"append: build-time distortion at $path is 0 (the " +
        "build corpus quantized exactly — a bootstrap-sized store); " +
        "the multiplicative drift gate has no scale and is SKIPPED " +
        "for THIS batch — the admitted batch's own distortion is " +
        "persisted as the new base, so the gate re-arms on the next " +
        "append")
    else require(bDist <= refitThreshold * base,
      f"append: batch distortion $bDist%.6f exceeds $refitThreshold%.1f× " +
        f"the build-time $base%.6f at $path — the corpus distribution " +
        "has drifted past the quantizer; re-fit and rebuild instead of " +
        "appending into cells that no longer describe it")
  }

  /** The base distortion to persist back after an admitted append:
    * unchanged when real, replaced by the batch's own measured
    * distortion when the build base was 0 (bootstrap-sized build) so
    * the [[requireNoDrift]] gate re-arms instead of staying disabled
    * forever on a store that has long outgrown its bootstrap. */
  private def rearmedBase(base: Double, bDist: Double): Double =
    if (base <= 0.0) bDist else base

  /** Rows per sealed appends-log segment. The ACTIVE segment is the
    * one versioned sidecar and is rewritten whole per append (bounded:
    * ≤ this many 4-scalar rows); on reaching the cap it SEALS — the
    * live version file renames to an immutable `seg-<n>.parquet`
    * (atomic, rows move and are never copied) and the next append
    * starts a fresh active sidecar. Per-append log cost is therefore
    * O(segment) FLAT regardless of store age — the pre-r16 whole-log
    * rewrite was O(n) per append, O(n²) cumulative, a real wall for a
    * years-long minute-cadence ingest (~1,440 appends/day) — and the
    * file count grows one per 512 appends (a 10⁶-append store lists
    * ~2k log files; compaction merges them back to one). */
  private[graft] val AppendLogSegmentRows = 512

  private[graft] val AppendLogSegmentRe = """seg-(\d{12})\.parquet""".r
  private def isLogSegment(name: String): Boolean = name match {
    case AppendLogSegmentRe(_) => true
    case _ => false
  }
  private def sealedSegments(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path)
      : Seq[(org.apache.hadoop.fs.Path, Long)] =
    (if (fs.exists(dirPath)) fs.listStatus(dirPath).toSeq else Nil)
      .filter(_.isFile)
      .flatMap(st => st.getPath.getName match {
        case AppendLogSegmentRe(n) => Some((st.getPath, n.toLong))
        case _ => None
      })
      .sortBy(_._2)

  private def appendLogRow(spark: SparkSession, path: String,
      nRows: Long, bDist: Double, base: Double,
      refitThreshold: Double): Unit =
    appendLogRowSeg(spark, path, nRows, bDist, base, refitThreshold,
      AppendLogSegmentRows)

  /** The segment-size-parameterized core (specs drill the seal/roll
    * protocol at a small cap; production uses
    * [[AppendLogSegmentRows]]). DuckDB's whole-dir `appends` glob
    * stays exact: sealed segments plus the one live version file
    * together hold each audit row exactly once. */
  private[graft] def appendLogRowSeg(spark: SparkSession, path: String,
      nRows: Long, bDist: Double, base: Double, refitThreshold: Double,
      segmentRows: Int): Unit = {
    import spark.implicits._
    val row = Seq((nRows, bDist, base, refitThreshold))
      .toDF("n_rows", "distortion", "base_distortion", "refit_threshold")
    val dir = s"$path/appends"
    val fs = hadoopFs(spark, dir)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    recoverPendingMerge(fs, dirPath) // finish a crashed merge first
    // the ACTIVE segment only: the max version file when present, else
    // any legacy pre-protocol files (excluding sealed segments — a
    // sealed store whose last append just rolled has segments but no
    // active version, and its active is honestly empty)
    val (activeDf, activeCount) =
      latestSidecarFile(fs, dirPath) match {
        case Some((f, _)) =>
          val df = spark.read.parquet(f.toString)
          (Some(df), df.count())
        case None =>
          val legacy =
            (if (fs.exists(dirPath)) fs.listStatus(dirPath).toSeq
             else Nil)
              .filter(st => st.isFile &&
                st.getPath.getName.endsWith(".parquet") &&
                !isLogSegment(st.getPath.getName))
              .map(_.getPath.toString)
          if (legacy.isEmpty) (None, 0L)
          else {
            val df = spark.read.parquet(legacy: _*)
            (Some(df), df.count())
          }
      }
    val full = activeDf.map(_.union(row)).getOrElse(row)
    // version floor: segment NAMES are the version numbers they were
    // sealed from, so max(segments)+1 keeps the counter monotonic
    // across seals (a seal removes the only v-file; without the floor
    // the next publish would REUSE v1 — and a racing reader that
    // resolved the old generation's v1 could silently read the new
    // generation's rows under the same name)
    val floor = sealedSegments(fs, dirPath)
      .lastOption.map(_._2).getOrElse(0L) + 1
    writeSidecarAtomic(spark, dir, full, preserve = isLogSegment,
      minVersion = floor)
    if (activeCount + 1 >= segmentRows) {
      // SEAL: the just-published version becomes an immutable segment
      // NAMED BY ITS VERSION NUMBER. Atomic rename — the rows move,
      // they are never in two files; a reader that resolved the
      // version pre-rename retries into the no-active state, where
      // the sealed segments alone ARE the complete log.
      latestSidecarFile(fs, dirPath).foreach { case (live, ver) =>
        require(fs.rename(live,
          new org.apache.hadoop.fs.Path(dirPath, f"seg-$ver%012d.parquet")),
          s"appends-log seal: rename of $live failed")
      }
    }
  }

  /** Merge all sealed appends-log segments (and the active version)
    * back into ONE active sidecar — the compaction-side half of the
    * segmented log: bounded file counts over any store lifetime.
    * Published by the same atomic versioned swap (the full log renames
    * in as the next version, THEN superseded segments sweep), so
    * version-resolving readers always see a complete log; a whole-dir
    * reader racing the rename→sweep window can transiently observe
    * rows twice — the same torn-by-design caveat every compaction
    * window already carries (data-tree rewrites refuse loudly there;
    * the audit log degrades to a transient double-count instead).
    *
    * Crash fence: a `.merge.pending` marker (absorbed max segment,
    * target version) brackets the publish, so a crash between the
    * version rename and the segment sweep does NOT bake a permanent
    * double count — [[recoverPendingMerge]] (run by every log
    * mutator) and [[readAppendLog]] (read-only exclusion) both treat
    * segments ≤ the marker's bound as dead once the marked version
    * exists. A crash BEFORE the rename leaves the marked version
    * absent, so the same rule keeps the segments live and merely
    * drops the stale marker. Callers hold the writer lock. */
  private[graft] def compactAppendLog(spark: SparkSession,
      path: String): Unit = {
    val dir = s"$path/appends"
    val fs = hadoopFs(spark, dir)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    recoverPendingMerge(fs, dirPath)
    val segs = sealedSegments(fs, dirPath)
    if (segs.isEmpty) return
    val files = segs.map(_._1.toString) ++
      latestSidecarFile(fs, dirPath).map(_._1.toString)
    val full = spark.read.parquet(files: _*)
    // materialize BEFORE the publish sweeps the segment files the scan
    // would otherwise read from (bounded: 4 scalars per append); the
    // publish's own sweep (no preserve) deletes the superseded
    // segments right after the rename
    val rows = full.collect()
    // same monotonic-version floor as the append path: the merged
    // active must outnumber every version a segment was sealed from
    val targetVer = math.max(
      latestSidecarFile(fs, dirPath).map(_._2).getOrElse(0L) + 1,
      segs.last._2 + 1)
    writeMergeMarker(fs, dirPath, segs.last._2, targetVer)
    writeSidecarAtomic(spark, dir,
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        full.schema), minVersion = targetVer)
    fs.delete(mergeMarkerPath(dirPath), false)
    ()
  }

  private def mergeMarkerPath(dirPath: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(dirPath, ".merge.pending")

  private[graft] def writeMergeMarker(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path, absorbedMaxSeg: Long,
      targetVersion: Long): Unit = {
    val out = fs.create(mergeMarkerPath(dirPath), true)
    try out.write(s"$absorbedMaxSeg $targetVersion".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The crashed-merge marker, parsed: (absorbed max segment number,
    * target version). None when absent or unreadable. */
  private def readMergeMarker(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path): Option[(Long, Long)] =
    try {
      val p = mergeMarkerPath(dirPath)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try {
          val bytes = new Array[Byte](128)
          val n = in.read(bytes)
          val parts = new String(bytes, 0, math.max(n, 0),
            java.nio.charset.StandardCharsets.UTF_8).trim.split(" ")
          if (parts.length == 2) Some((parts(0).toLong, parts(1).toLong))
          else None
        } finally in.close()
      }
    } catch { case _: Exception => None }

  /** Finish (or void) a crashed [[compactAppendLog]]: if the marker's
    * target version was published, the absorbed segments are dead —
    * delete them; either way drop the marker. Mutates — callers hold
    * the writer lock. */
  private def recoverPendingMerge(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path): Unit =
    readMergeMarker(fs, dirPath).foreach { case (bound, ver) =>
      val published =
        latestSidecarFile(fs, dirPath).exists(_._2 >= ver)
      if (published)
        sealedSegments(fs, dirPath)
          .filter(_._2 <= bound)
          .foreach { case (p, _) => fs.delete(p, false) }
      fs.delete(mergeMarkerPath(dirPath), false)
      ()
    }

  /** A REBUILD invalidates append history: every writer clears the
    * `appends` sidecar up front, so [[readAppendLog]] never mixes a
    * dead store's rows into the new store's audit trail (the log
    * would otherwise survive an in-place re-fit + rebuild — exactly
    * the flow the drift refusal instructs). */
  private def clearAppendLog(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/appends")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    ()
  }

  /** Rebuild-in-place entry ritual every builder runs FIRST: meta off
    * (the store is formally torn for the whole rebuild window — a
    * rebuild REWRITES trees readers may hold listings of, so loud
    * refusal beats an inconsistent read; contrast appends, which never
    * tear) and the append history cleared ([[clearAppendLog]]). */
  private def beginRebuild(spark: SparkSession, path: String): Unit = {
    hadoopFs(spark, path).delete(
      new org.apache.hadoop.fs.Path(s"$path/meta"), true)
    clearAppendLog(spark, path)
  }

  /** The residual rebase every IVF-PQ surface shares — build encode,
    * append encode, and probe query-rebase alike: subtract the own
    * (or probed) cell's centroid in DOUBLE (float subtraction would
    * round per element and the strict external replays — double
    * arithmetic over the same persisted floats — could not reproduce
    * it) via ONE broadcast join against the nlist-row centroid
    * table. `centDf` is (cell, centroid float[]); the result lands in
    * `outCol` as array<double>, other columns pass through. One
    * definition, because five sites encoding this contract
    * independently is how append ≡ rebuild and stream ≡ batch laws
    * silently diverge. */
  private[graft] def rebaseByCell(df: DataFrame, centDf: DataFrame,
      vecCol: String, outCol: String): DataFrame =
    df.join(broadcast(centDf.select(col("cell"),
        col("centroid").cast("array<double>").as("__c"))), Seq("cell"))
      .withColumn(outCol, zip_with(col(vecCol).cast("array<double>"),
        col("__c"), (x, c) => x - c))
      .drop("__c")

  /** The composed level-2 centroid table of a hierarchical quantizer
    * as the (cell, centroid) frame [[rebaseByCell]] and the distortion
    * measures consume. */
  private[graft] def composedCentroids(spark: SparkSession,
      cq: CoarseQuantizer): DataFrame =
    spark.createDataFrame(
        cq.l2.map { case (c1, c2, v) => (c1 * cq.k2 + c2, v.toSeq) })
      .toDF("cell", "centroid")

  /** Probe a materialized IVF index: the `cell isin(probes)` predicate is
    * a PARTITION filter on the index layout — Spark prunes unprobed
    * cells at the file-listing level, so probe I/O is |probed cells|,
    * not |corpus|. Centroids (nlist rows) are collected driver-side and
    * folded into the probe expression; queries are broadcast. */
  /** The persisted quantizer of a [[writeIvfIndex]] layout, driver-side
    * (nlist rows — the sidecar IS the broadcast-sized half). */
  def readCentroids(spark: SparkSession,
      path: String): Seq[(Int, Array[Float])] =
    spark.read.parquet(s"$path/centroids").collect().toSeq
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  def ivfTopKFromIndex(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val cents: Seq[(Int, Array[Float])] = readCentroids(spark, path)
    // the probe frame is materialized ONCE (query-set-sized — it rides
    // a broadcast anyway): the cell-pruning collect below and the
    // rerank join must see the SAME probe rows, and a nondeterministic
    // queries frame re-evaluated for the rerank could otherwise probe
    // a cell the collect already pruned out of the index — silently
    // losing its candidates
    val probes = queries.select(col(qidCol), col(qvecCol),
      explode(probeCells(col(qvecCol), cents, nprobe)).as("cell"))
      .localCheckpoint(eager = true)
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)) // |q|·nprobe ints — driver-bounded
    val index = spark.read.parquet(s"$path/index")
      .filter(col("cell").isin(probedCells.toSeq: _*)) // partition pruning
    rerankWithinCells(index, probes, k, idCol, vecCol, qidCol, qvecCol)
  }

  // ---- hierarchical (two-level) coarse quantizer ----------------------

  /** A trained two-level coarse quantizer: `k1` level-1 cells, each
    * owning `k2` sub-centroids; composed cell id = c1·k2 + c2, so
    * nlist = k1·k2 (a request rounds UP to the grid). `l1` is the k1
    * level-1 centroids, `l2` the full (c1, c2, centroid) grid. The
    * Flat views are the float-upcast-to-double tables the kernels and
    * any external replayer consume — one upcast, shared values.
    *
    * [[tables]] is the kernel carrier ([[graft.plans.CoarseTables]]):
    * l1 as a plan reference object, l2 via an explicit Broadcast with
    * digest-keyed equality — built (and l2 broadcast) ONCE per
    * quantizer instance and shared by every assignment/probe
    * expression derived from it, so a multi-stage pipeline over one
    * quantizer ships the big table to each executor once, never per
    * task binary. */
  final case class CoarseQuantizer(k1: Int, k2: Int, dim: Int,
      l1: Seq[(Int, Array[Float])],
      l2: Seq[(Int, Int, Array[Float])]) {
    def nlist: Int = k1 * k2
    private def flatten(rows: Seq[(Int, Array[Float])]): Array[Double] = {
      val out = new Array[Double](rows.length * dim)
      rows.sortBy(_._1).zipWithIndex.foreach { case ((_, v), i) =>
        var j = 0
        while (j < dim) { out(i * dim + j) = v(j).toDouble; j += 1 }
      }
      out
    }
    lazy val l1Flat: Array[Double] = flatten(l1)
    lazy val l2Flat: Array[Double] =
      flatten(l2.map { case (c1, c2, v) => (c1 * k2 + c2, v) })
    @transient private var tablesCache: graft.plans.CoarseTables = _
    def tables: graft.plans.CoarseTables = synchronized {
      if (tablesCache == null)
        tablesCache = graft.plans.CoarseTables(
          org.apache.spark.sql.SparkSession.active, l1Flat, l2Flat)
      tablesCache
    }
  }

  /** Train the two-level quantizer — the fit that scales past
    * [[trainCentroids]]' driver-Lloyd ceiling (the nlist ∝ n sizing a
    * 10⁹-vector corpus implies: nlist ~ 10⁵⁻⁶, where a flat fit gives
    * <1 sample point per centroid and hours of driver loop).
    *
    * Level 1 (k1 ≈ √nlist cells) fits with the SAME bounded
    * deterministic driver-Lloyd as every other quantizer — √nlist
    * stays driver-sized up to nlist ~ 16M. Level 2 runs DISTRIBUTED:
    * one assignment scan tags each sampled vector with its level-1
    * cell (the [[graft.plans.CoarseKernels]] kernel, zero literals),
    * then every cell's k2-center sub-fit executes as its own task
    * ([[lloydFit]] inside flatMapGroups — same content-sort + LCG
    * arithmetic, so the result is layout-independent). Fit wall grows
    * ~√nlist, not nlist.
    *
    * Scale contract: the only shuffle carries the capped training
    * sample (≤ ~2·k1·perCellCap vector rows — globally pre-thinned by
    * a content-independent Bernoulli, per-cell capped by content-hash
    * order, both deterministic); each sub-fit task holds ≤ perCellCap
    * vectors. Fails fast when the sample provides fewer than
    * `minPointsPerCentroid` training points per centroid overall —
    * statistically meaningless cells should stop the build, not ship
    * a bad index (raise trainFraction or lower nlist).
    *
    * Level-1 cells whose sample slice is too small to fit k2 distinct
    * sub-centroids pad the remaining slots with the level-1 centroid
    * itself — duplicate centroids are harmless (argmax ties break to
    * the lowest id; padded cells just stay empty).
    *
    * Memory regime: the trained l2 table is nlist·dim·8 B of doubles —
    * 0.5–8 GB at the nlist 10⁵⁻⁶ / d≥512 sizing this path targets. It
    * rides an explicit BROADCAST inside [[CoarseQuantizer.tables]]
    * (shipped to each executor once via the block manager), never the
    * plan: task binaries stay l1-sized (√nlist) and plan transforms
    * are O(1) in the table via digest-keyed expression equality —
    * measured flat across a 16×-nlist sweep in SCALE.md's coarse
    * drill. */
  def trainCoarseHierarchical(corpus: DataFrame, vecCol: String,
      nlist: Int, trainFraction: Double = 1.0,
      minPointsPerCentroid: Int = 32,
      perCellCap: Int = 1 << 13): CoarseQuantizer = {
    require(nlist >= 4, s"trainCoarseHierarchical: nlist=$nlist < 4 — " +
      "use trainCentroids for tiny quantizers")
    require(perCellCap > 0 && minPointsPerCentroid > 0,
      "perCellCap and minPointsPerCentroid must be positive")
    val k1 = gridK1(nlist)
    val k2 = gridK2(nlist)
    val l1Fit = trainCentroids(corpus, vecCol, k1, trainFraction,
      maxTrainRows = 1 << 15)
    require(l1Fit.size == k1,
      s"trainCoarseHierarchical: sample yielded only ${l1Fit.size} " +
        s"level-1 cells for k1=$k1 — the corpus is too small for " +
        s"nlist=$nlist; use trainCentroids")
    val dim = l1Fit.head._2.length
    val l1Seq: Seq[Double] = {
      val out = new Array[Double](k1 * dim)
      l1Fit.sortBy(_._1).zipWithIndex.foreach { case ((_, v), i) =>
        var j = 0
        while (j < dim) { out(i * dim + j) = v(j).toDouble; j += 1 }
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    val sampled =
      if (trainFraction < 1.0)
        corpus.sample(withReplacement = false, trainFraction, 43L)
      else corpus
    val vecs = sampled.select(col(vecCol).cast("array<float>").as("__v"))
      .filter(size(col("__v")) === dim)
    // global pre-thin before the per-cell window: the window shuffles
    // its input, so bound it at ~2× the per-cell caps' total instead
    // of the whole (sampled) corpus. The count runs on the UNprojected
    // frame — metadata-cheap on parquet, the trainCentroids stance —
    // so it over-counts any wrong-dim rows and the thin fraction is
    // merely conservative, never a full extra data scan.
    val n = sampled.count()
    val globalCap = 2L * k1 * perCellCap
    val thinned =
      if (n > globalCap)
        vecs.sample(withReplacement = false,
          math.min(1.0, globalCap.toDouble / n), 4242L)
      else vecs
    // level-1 tag via the kernel with k2=1 and l2=l1 (composed cell
    // degenerates to c1) — zero literals, one scan
    val assigned = thinned.select(col("__v"),
      graft.plans.CoarseExpressions.coarse_assign(col("__v"), k1, 1,
        dim, l1Seq, l1Seq).as("__c1"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("__c1")
      .orderBy(xxhash64(col("__v")), col("__v"))
    val capped = assigned
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= perCellCap)
      .select(col("__c1"), col("__v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val total = capped.count()
      require(total >= minPointsPerCentroid.toLong * k1 * k2,
        s"trainCoarseHierarchical: $total training points for " +
          s"nlist=${k1 * k2} is ${total / math.max(1, k1 * k2)} per " +
          s"centroid (< $minPointsPerCentroid) — statistically " +
          "meaningless cells; raise trainFraction/perCellCap or lower " +
          "nlist")
      val subs = capped.as[(Int, Array[Float])]
        .groupByKey(_._1)
        .flatMapGroups { (c1, it) =>
          val data = it.map(_._2).toArray
          lloydFit(data, k2, par = false)
            .iterator.zipWithIndex.map { case (v, c2) => (c1, c2, v) }
        }.collect()
      val byC1 = subs.groupBy(_._1)
      val l1Map = l1Fit.toMap
      val l2 = (0 until k1).flatMap { c1 =>
        val have = byC1.getOrElse(c1, Array.empty[(Int, Int, Array[Float])])
          .map(s => s._2 -> s._3).toMap
        (0 until k2).map(c2 => (c1, c2, have.getOrElse(c2, l1Map(c1))))
      }
      CoarseQuantizer(k1, k2, dim, l1Fit, l2)
    } finally { capped.unpersist(); () }
  }

  /** [[knnJoinIvf]] with the two-level quantizer — the corpus
    * self-join at the nlist ∝ n sizing the flat path cannot reach:
    * assignment and probes are the O(√nlist) kernels, the cell
    * equi-join and everything downstream is the flat plan unchanged
    * (both sides are the corpus, so the join shuffles (cell, id,
    * vector) rows — linear, never all-pairs). Recall has the beam
    * approximation on TOP of the nprobe one: a true neighbor whose
    * home cell hides under an unopened level-1 cell is missed. */
  def knnJoinIvfHier(corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nlist: Int = 64, nprobe: Int = 4, beam: Int = 2,
      trainFraction: Double = 1.0,
      quantizer: Option[CoarseQuantizer] = None,
      minPointsPerCentroid: Int = 32): DataFrame = {
    // accept the ROUNDED grid for the same request: the trainer rounds
    // nlist up to k1×k2, so the quantizer this very API produced for
    // `nlist` must pair back with `nlist`
    quantizer.foreach(q => require(
      q.nlist == nlist || q.nlist == roundedNlist(nlist),
      s"knnJoinIvfHier: persisted quantizer has ${q.nlist} cells but " +
        s"nlist=$nlist (grid-rounded: ${roundedNlist(nlist)}) — pass " +
        "the matching nlist"))
    val cq = quantizer.getOrElse(trainCoarseHierarchical(corpus, vecCol,
      nlist, trainFraction, minPointsPerCentroid))
    val assigned = spread(corpus.select(col(idCol), col(vecCol)))
      .select(col(idCol), col(vecCol),
        assignCellHier(col(vecCol), cq).as("cell"))
    val probes = corpus.select(col(idCol).as("qid"),
      col(vecCol).as("qvec"),
      explode(probeCellsHier(col(vecCol), cq, nprobe, beam)).as("cell"))
    val scored = assigned.join(probes, Seq("cell"))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol),
        cosine(col(vecCol), col("qvec")).as("sim"))
    topKPerGroup(scored, k, "qid", idCol)
  }

  private def gridK1(nlist: Int): Int =
    math.ceil(math.sqrt(nlist.toDouble)).toInt
  private def gridK2(nlist: Int): Int =
    math.ceil(nlist.toDouble / gridK1(nlist)).toInt

  /** The cell count a `nlist` request actually trains: the k1×k2 grid
    * rounds the request UP (k1 = ⌈√nlist⌉, k2 = ⌈nlist/k1⌉). */
  def roundedNlist(nlist: Int): Int = gridK1(nlist) * gridK2(nlist)

  /** Composed cell id of a vector under a hierarchical quantizer —
    * the O(√nlist)-per-row, zero-literal sibling of [[nearestCell]]. */
  def assignCellHier(vec: Column, cq: CoarseQuantizer): Column =
    graft.plans.CoarseExpressions.coarse_assign(vec, cq.k1, cq.k2,
      cq.dim, cq.tables)

  /** The nprobe best composed cells searched through `beam` level-1
    * cells — [[probeCells]]' hierarchical sibling. Approximate in
    * beam: a near cell under an unopened level-1 cell is missed
    * (recall vs the exhaustive probe measured in CoarseSpec). */
  def probeCellsHier(vec: Column, cq: CoarseQuantizer, nprobe: Int,
      beam: Int): Column =
    graft.plans.CoarseExpressions.coarse_probe(vec, cq.k1, cq.k2,
      cq.dim, cq.tables, nprobe, beam)

  /** Materialize a hierarchical IVF index: corpus in the GROUPED cell
    * layout (same rationale as [[writeIvfPqIndexHier]]: `cell_grp =
    * cell / cellsPerGroup` directories — bounded fan-out at nlist
    * 10⁵⁻⁶, where one dir per cell is a file-listing problem — with
    * one cell-sorted file per group so probes prune groups at the
    * listing and cells at the row-group stats), quantizer as
    * (l1, quantizer, meta) sidecars. Assignment carries the quantizer
    * as a reference object, O(1) plan size in nlist. Note the grouping
    * shuffle here carries the VECTORS (this layout stores them — it is
    * the rerank side); the PQ layout is the one whose rows stay
    * 32× slimmer. */
  def writeIvfIndexHier(corpus: DataFrame, path: String, nlist: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainFraction: Double = 1.0, minPointsPerCentroid: Int = 32,
      perCellCap: Int = 1 << 13,
      cellsPerGroup: Int = 64,
      quantizer: Option[CoarseQuantizer] = None): CoarseQuantizer = {
    require(cellsPerGroup > 0, "cellsPerGroup must be positive")
    // `quantizer` bypasses the fit with a pre-trained grid — the
    // rebuild-for-comparison / shared-quantizer-across-layouts shape,
    // and what makes `append ≡ rebuild` a testable law
    val cq = quantizer.getOrElse(trainCoarseHierarchical(corpus, vecCol,
      nlist, trainFraction, minPointsPerCentroid, perCellCap))
    val spark = corpus.sparkSession
    withWriterLock(spark, path, "writeIvfIndexHier") { guard =>
      // frame construction ABOVE begin(): a failure here releases the
      // lock (pure refusal) — begin() is adjacent to the first mutation
      val l1Df = spark.createDataFrame(
          cq.l1.map { case (c1, v) => (c1, v.toSeq) })
        .toDF("c1", "centroid")
      val l2Df = spark.createDataFrame(
          cq.l2.map { case (c1, c2, v) => (c1, c2, v.toSeq) })
        .toDF("c1", "c2", "centroid")
      guard.begin()
      beginRebuild(spark, path)
      l1Df.coalesce(1).write.mode("overwrite").parquet(s"$path/l1")
      l2Df.coalesce(1).write.mode("overwrite").parquet(s"$path/quantizer")
      corpus.select(col(idCol), col(vecCol),
          assignCellHier(col(vecCol), cq).as("cell"))
        // wrong-length vectors assign to a null cell — drop them at
        // write like the PQ writers drop null codes, instead of
        // persisting a __HIVE_DEFAULT_PARTITION__ of dead rows
        .filter(col("cell").isNotNull)
        .withColumn("cell_grp", (col("cell") / cellsPerGroup).cast("int"))
        .repartition(col("cell_grp"))
        .sortWithinPartitions(col("cell"))
        .write.mode("overwrite").partitionBy("cell_grp")
        .parquet(s"$path/index")
      // build-time distortion from the BYTES ON DISK (the sidecar
      // convention FingerprintIndexStore set): the append path's drift
      // threshold compares against this
      val base = meanCellDistortion(
        spark.read.parquet(s"$path/index"), cq, vecCol)
      // meta is the manifest and goes LAST: a crash anywhere above
      // leaves a store hierMetaRow refuses loudly
      writeHierMeta(spark, path, cq, cellsPerGroup, residual = None, base)
    }
    cq
  }

  /** Mean quantizer distortion of an assigned frame — mean squared L2
    * distance to the OWN cell centroid, i.e. the k-means objective the
    * fit minimized. This is the drift signal the append path
    * thresholds: a batch whose distribution moved (norms, location,
    * spread) shows it directly in the objective the quantizer was
    * optimal for, and a threshold breach means a re-fit would
    * materially change the cells. (Cosine would NOT work here: in
    * high dimension with bounded nlist, 1−cos saturates near 1 for
    * build corpus and drifted batch alike, so no multiplicative
    * threshold could ever fire.) One bounded batch-sized pass; the
    * interpreted zip_with/aggregate lambdas are fine off the probe
    * path. */
  private def meanCellDistortion(assigned: DataFrame,
      cq: CoarseQuantizer, vecCol: String): Double =
    meanCellDistortionTable(assigned,
      assigned.sparkSession.createDataFrame(
          cq.l2.map { case (c1, c2, v) => (c1 * cq.k2 + c2, v.toSeq) })
        .toDF("cell", "__cent"), vecCol)

  /** The table-keyed core: `centDf` is (cell, __cent) — composed
    * level-2 centroids for the hier layouts, the flat centroid
    * sidecar for the flat ones. */
  private def meanCellDistortionTable(assigned: DataFrame,
      centDf: DataFrame, vecCol: String): Double = {
    val diff = zip_with(col(vecCol).cast("array<double>"),
      col("__cent").cast("array<double>"), (x, c) => x - c)
    assigned.join(broadcast(centDf), Seq("cell"))
      .select(aggregate(diff, lit(0.0), (acc, x) => acc + x * x).as("__d"))
      .filter(col("__d").isNotNull && !isnan(col("__d")))
      .agg(avg(col("__d"))).head() match {
        case r if r.isNullAt(0) => 0.0
        case r => r.getDouble(0)
      }
  }

  /** The one-row meta manifest both hierarchical layouts share —
    * written strictly LAST by writers, appends and compaction (the
    * FingerprintIndexStore torn-write contract: data without meta is
    * formally torn and every reader refuses it loudly). `residual` is
    * present only on the PQ layout. */
  private def writeHierMeta(spark: SparkSession, path: String,
      cq: CoarseQuantizer, cellsPerGroup: Int,
      residual: Option[Boolean], baseDistortion: Double): Unit = {
    import spark.implicits._
    val df = residual match {
      case Some(r) =>
        Seq((cq.k1, cq.k2, cq.dim, r, cellsPerGroup, baseDistortion))
          .toDF("k1", "k2", "dim", "residual", "cells_per_group",
            "base_distortion")
      case None =>
        Seq((cq.k1, cq.k2, cq.dim, cellsPerGroup, baseDistortion))
          .toDF("k1", "k2", "dim", "cells_per_group", "base_distortion")
    }
    writeSidecarAtomic(spark, s"$path/meta", df)
  }

  /** Load a [[writeIvfIndexHier]] quantizer, driver-side (k1·k2 rows).
    * Torn-store validation per the readPqCodebooks convention: the
    * sidecars are complete grids by construction, so any gap,
    * duplicate, dim drift, or meta mismatch is a partial copy and
    * fails here rather than as silent mis-assignment. */
  def readCoarseQuantizer(spark: SparkSession, path: String,
      preReadMeta: Option[org.apache.spark.sql.Row] = None)
      : CoarseQuantizer = {
    // by NAME, not position: the hierarchical IVF-PQ layout's meta
    // carries extra columns after these three. `preReadMeta` lets a
    // probe that already read the one-row sidecar skip the re-read.
    val meta = preReadMeta.getOrElse(hierMetaRow(spark, path))
    val (k1, k2, dim) = (meta.getAs[Int]("k1"), meta.getAs[Int]("k2"),
      meta.getAs[Int]("dim"))
    val l1 = readL1Sidecar(spark, path, k1, dim)
    val l2 = spark.read.parquet(s"$path/quantizer").collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
      .sortBy(c => (c._1, c._2))
    require(l2.map(c => (c._1, c._2)) ==
        (for (c1 <- 0 until k1; c2 <- 0 until k2) yield (c1, c2)) &&
        l2.forall(_._3.length == dim),
      s"readCoarseQuantizer: quantizer sidecar at $path is not the " +
        s"complete $k1×$k2×$dim grid — torn store?")
    CoarseQuantizer(k1, k2, dim, l1, l2)
  }

  /** The l1 sidecar, driver-side (k1 rows), with THE completeness
    * validation both consumers share: ids must span EXACTLY 0..k1-1
    * (count/distinct alone would pass an out-of-range id like
    * {0,1,2,4}, and the position-based flatten in CoarseQuantizer —
    * or the lazy probe's k2=1 view — would then silently misalign
    * every centroid table); the writer emits the complete grid by
    * construction, so anything else is a torn/edited store. */
  private def readL1Sidecar(spark: SparkSession, path: String,
      k1: Int, dim: Int): Seq[(Int, Array[Float])] = {
    val l1 = spark.read.parquet(s"$path/l1").collect().toSeq
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(l1.map(_._1) == (0 until k1) &&
        l1.forall(_._2.length == dim),
      s"readL1Sidecar: l1 sidecar at $path is not the complete " +
        s"0..${k1 - 1}×$dim grid — torn store?")
    l1
  }

  /** Scan of ONLY the probed groups' partition dirs in a grouped tree
    * — file-listing AND partition-discovery cost ∝ |probed groups|,
    * never ∝ nlist/cellsPerGroup. The plain
    * `spark.read.parquet(root).filter(cell_grp isin …)` form prunes
    * the SCAN to probed groups, but its partition DISCOVERY still
    * lists every group dir — 15,625 dirs at nlist 10⁶ dominated the
    * r15 lazyprobe drill's 25 s cold wall (SCALE.md). Reading the
    * probed dirs directly (with `basePath`, so `cell_grp` survives as
    * a partition column and the group/cell isin filters still show as
    * partition/row-group pruning in the plan) makes discovery itself
    * ∝ probed groups: |probed| existence RPCs driver-side, bounded by
    * |q|·nprobe. Probed groups whose dir is absent (every cell in
    * them empty) skip; the rare all-absent case falls back to an
    * empty scan of the root (one full listing, correct schema). */
  private def probedGroupScan(spark: SparkSession, root: String,
      probedGroups: Array[Int], probedCells: Array[Int]): DataFrame = {
    val fs = hadoopFs(spark, root)
    val dirs = probedGroups.map(g => s"$root/cell_grp=$g")
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
    val base =
      if (dirs.isEmpty) spark.read.parquet(root).filter(lit(false))
      else spark.read.option("basePath", root).parquet(dirs.toSeq: _*)
    base.filter(col("cell_grp").isin(probedGroups.toSeq: _*) &&
      col("cell").isin(probedCells.toSeq: _*))
  }

  /** Probe a hierarchical IVF index: the [[ivfTopKFromIndex]] shape
    * with the O(√nlist) kernel probe in place of the literal fold and
    * TWO-LEVEL pruning over the grouped layout — probed `cell_grp`s at
    * the partition DISCOVERY ([[probedGroupScan]]: only probed dirs
    * are even listed), unprobed cells at the parquet row-group stats
    * (files are cell-sorted) and the row filter. */
  def ivfHierTopKFromIndex(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, nprobe: Int = 4, beam: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val meta = hierMetaRow(spark, path)
    val cq = readCoarseQuantizer(spark, path, Some(meta))
    // materialize-once contract shared with ivfTopKFromIndex: the
    // pruning collect and the rerank join must see identical probes
    val probes = queries.select(col(qidCol), col(qvecCol),
      explode(probeCellsHier(col(qvecCol), cq, nprobe, beam)).as("cell"))
      .localCheckpoint(eager = true)
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)) // |q|·nprobe ints — driver-bounded
    val cpg = meta.getAs[Int]("cells_per_group")
    val probedGroups = probedCells.map(_ / cpg).distinct
    val index = probedGroupScan(spark, s"$path/index",
      probedGroups, probedCells)
    rerankWithinCells(index, probes, k, idCol, vecCol, qidCol, qvecCol)
  }

  // ---- ANN index append / compaction ----------------------------------

  /** Append a batch to a [[writeIvfIndexHier]] layout WITHOUT
    * re-fitting: arriving vectors are assigned with the PERSISTED
    * quantizer (a pure kernel scan — cost ∝ |batch|; the existing
    * index is never read, shuffled or rewritten), their rows land as
    * per-group file adds in the grouped tree, and the meta manifest is
    * refreshed LAST (the [[graft.sinks.FingerprintIndexStore]]
    * torn-write contract: from the meta delete to the final meta write
    * the store is formally torn and every reader refuses it loudly —
    * never a fresh manifest blessing half-appended data).
    *
    * Drift contract: the batch's quantizer distortion (mean squared
    * L2 to its own cell centroid — the k-means objective, see
    * [[meanCellDistortion]]) is measured BEFORE anything mutates, and
    * the append refuses when it exceeds `refitThreshold` × the
    * build-time distortion riding the meta — a distribution that
    * drifted that far belongs to a re-fit + rebuild, not a silent
    * append into cells that no longer describe it. Every append logs
    * (n_rows, distortion, base, threshold) to the `appends` sidecar
    * for trend audit ([[readAppendLog]]).
    *
    * Law (spec-pinned): append ≡ rebuild — probes of an appended store
    * are row-identical to a store built over the union corpus with the
    * SAME quantizer. Caller contract: batch ids are novel (id-dedup
    * belongs to the dedup indexes this layout composes with);
    * duplicate ids append as duplicate rows. Many small appends
    * accumulate files per group — run [[compactIvfIndexHier]] on the
    * crawl cadence (probe results never depend on it; row-group
    * pruning just degrades as files-per-group grows).
    *
    * Returns the measured batch distortion. */
  def appendIvfIndexHier(batch: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      refitThreshold: Double = 2.0): Double =
    appendIvfHierCore(batch, path, None, idCol, vecCol, refitThreshold)

  /** [[appendIvfIndexHier]] with the quantizer PRE-LOADED — the
    * continuous-ingestion shape: a foreachBatch loop reads the
    * nlist·dim quantizer sidecar ONCE at stream start instead of
    * re-collecting it every microbatch (at the carrier's 0.5–8 GB l2
    * sizing that re-read would dwarf the batch itself). The one-row
    * meta IS re-read per call, under the lock — it carries the
    * (possibly re-armed) drift base and costs one tiny file — and its
    * grid shape must match the pre-loaded quantizer, so a store
    * re-fit under a live ingest loop fails loudly instead of
    * appending with dead centroids. */
  def appendIvfIndexHierWith(batch: DataFrame,
      path: String, cq: CoarseQuantizer, idCol: String = "vec_id",
      vecCol: String = "embedding",
      refitThreshold: Double = 2.0): Double =
    appendIvfHierCore(batch, path, Some(cq), idCol, vecCol,
      refitThreshold)

  /** Shared core of the two hier-IVF appends: ONE meta read under the
    * lock serves the freshness re-check, the quantizer load (when not
    * pre-loaded) and the drift base alike. */
  private def appendIvfHierCore(batch: DataFrame, path: String,
      preCq: Option[CoarseQuantizer], idCol: String, vecCol: String,
      refitThreshold: Double): Double = {
    val spark = batch.sparkSession
    withWriterLock(spark, path, "appendIvfIndexHier") { guard =>
      val meta = hierMetaRow(spark, path)
      val cq = preCq.getOrElse(
        readCoarseQuantizer(spark, path, Some(meta)))
      preCq.foreach(requireMetaMatchesQuantizer(meta, _, path))
      val assigned = batch.select(col(idCol), col(vecCol),
          assignCellHier(col(vecCol), cq).as("cell"))
        .filter(col("cell").isNotNull)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try
        appendHierRows(spark, path, "index", meta, cq, assigned, vecCol,
          assigned, refitThreshold, residual = None, guard)
      finally { assigned.unpersist(); () }
    }
  }

  /** A pre-loaded quantizer must still describe the store it is
    * appending into: grid-shape equality with the live meta is the
    * cheap invariant (a same-shape re-fit is indistinguishable here —
    * the drift gate catches that case statistically). */
  private def requireMetaMatchesQuantizer(meta: org.apache.spark.sql.Row,
      cq: CoarseQuantizer, path: String): Unit =
    require(meta.getAs[Int]("k1") == cq.k1 &&
        meta.getAs[Int]("k2") == cq.k2 &&
        meta.getAs[Int]("dim") == cq.dim,
      s"append: pre-loaded quantizer (${cq.k1}x${cq.k2}x${cq.dim}) no " +
        s"longer matches the store meta at $path — the store was " +
        "re-fit under a live ingest loop; restart the stream so it " +
        "re-reads the sidecars")

  /** [[appendIvfIndexHier]] for the [[writeIvfPqIndexHier]] layout:
    * the batch is assigned with the persisted quantizer AND encoded
    * with the persisted codebooks (residual rebase when the meta says
    * so) — never a re-fit of either — then appended to the grouped
    * code tree under the same drift/torn-write/log contract. */
  def appendIvfPqIndexHier(batch: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      refitThreshold: Double = 2.0): Double =
    appendIvfPqHierCore(batch, path, None, idCol, vecCol,
      refitThreshold)

  /** [[appendIvfPqIndexHier]] with quantizer AND codebooks PRE-LOADED
    * — see [[appendIvfIndexHierWith]]: the foreachBatch ingest loop
    * reads the big sidecars once at stream start; the one-row meta
    * (re-armed drift base, residual flag) is re-read per call, under
    * the lock, and shape-checked against the pre-loaded grid. */
  def appendIvfPqIndexHierWith(batch: DataFrame, path: String,
      cq: CoarseQuantizer, cb: PqCodebooks,
      idCol: String = "vec_id", vecCol: String = "embedding",
      refitThreshold: Double = 2.0): Double =
    appendIvfPqHierCore(batch, path, Some((cq, cb)), idCol, vecCol,
      refitThreshold)

  /** Shared core of the two hier IVF-PQ appends — ONE meta read under
    * the lock ([[appendIvfHierCore]]'s shape, plus codebooks). */
  private def appendIvfPqHierCore(batch: DataFrame, path: String,
      pre: Option[(CoarseQuantizer, PqCodebooks)], idCol: String,
      vecCol: String, refitThreshold: Double): Double = {
    val spark = batch.sparkSession
    withWriterLock(spark, path, "appendIvfPqIndexHier") { guard =>
      val meta = hierMetaRow(spark, path)
      val (cq, cb) = pre.getOrElse(
        (readCoarseQuantizer(spark, path, Some(meta)),
          readPqCodebooks(spark, path)))
      pre.foreach { case (c, _) =>
        requireMetaMatchesQuantizer(meta, c, path) }
      val residual = meta.getAs[Boolean]("residual")
      val celled = batch.select(col(idCol), col(vecCol),
          assignCellHier(col(vecCol), cq).as("cell"))
        .filter(col("cell").isNotNull)
      val encodeSrc =
        (if (!residual) celled.withColumn("__enc", col(vecCol))
        else rebaseByCell(celled, composedCentroids(spark, cq),
          vecCol, "__enc"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val rows = encodeSrc.select(col(idCol), col("cell"),
            graft.plans.PqExpressions.pq_encode(col("__enc"), cb.ncodes,
              cb.dsub, cb.flat).as("codes"))
          .filter(col("codes").isNotNull)
        appendHierRows(spark, path, "codes", meta, cq, encodeSrc, vecCol,
          rows, refitThreshold, residual = Some(residual), guard)
      } finally { encodeSrc.unpersist(); () }
    }
  }

  /** The audit log of a store's appends: (n_rows, distortion,
    * base_distortion, refit_threshold) rows, one per append — a
    * MULTISET (no ordering contract across segment files). Empty
    * store never appended → path absent (read throws). Layout (r16):
    * sealed immutable `seg-*.parquet` segments plus at most one
    * active versioned sidecar ([[appendLogRowSeg]]); legacy
    * one-file-per-append logs read via the whole-dir fallback.
    * The read MATERIALIZES the log from ONE directory snapshot
    * (driver-side, bounded — four scalars per append) inside the
    * re-resolve/retry loop, so an audit racing a live ingest loop's
    * publish-then-sweep or a seal's rename never sees a vanished
    * file; the returned frame is a local relation safe to hold across
    * further appends. Audits racing a COMPACTION's log merge can
    * transiently read a row twice (the documented compaction-window
    * caveat, [[compactAppendLog]]). */
  def readAppendLog(spark: SparkSession, path: String): DataFrame = {
    val dir = s"$path/appends"
    val fs = hadoopFs(spark, dir)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    retryOnVanishedSidecar {
      // ONE listStatus snapshot for BOTH the segments and the active
      // version: two separate listings would let a seal rename land
      // between them — the first missing the new segment, the second
      // missing the renamed-away active — silently dropping up to a
      // segment of rows with no exception for the retry to catch
      def snapshot(): Seq[org.apache.hadoop.fs.FileStatus] =
        (if (fs.exists(dirPath)) fs.listStatus(dirPath).toSeq else Nil)
          .filter(_.isFile)
      var files = snapshot()
      // rename(2) is atomic, but a readdir RACING it can see the moved
      // entry zero times (the directory-iteration anomaly — found by
      // the racing-reader spec, not guessed): a listing with files but
      // NO version file is exactly that suspicious state (legitimate
      // only immediately after a seal), so re-list until two
      // consecutive snapshots agree before trusting it
      if (files.nonEmpty &&
          !files.exists(st => SidecarVersionRe.findFirstIn(
            st.getPath.getName).isDefined)) {
        var prev = files.map(_.getPath.getName).toSet
        var stable = false
        var tries = 0
        while (!stable && tries < 8) {
          Thread.sleep(5)
          val again = snapshot()
          val names = again.map(_.getPath.getName).toSet
          if (names == prev) stable = true
          else { prev = names; files = again }
          tries += 1
        }
      }
      val marker = readMergeMarker(fs, dirPath)
      val verOf: String => Option[Long] = {
        case SidecarVersionRe(n) => Some(n.toLong)
        case _ => None
      }
      val activeVer = files
        .flatMap(st => verOf(st.getPath.getName)).sorted.lastOption
      // a crashed merge's absorbed segments are DEAD once the marked
      // version exists — exclude them (read-only recovery; the next
      // mutator deletes them via recoverPendingMerge)
      val deadBound = marker match {
        case Some((bound, ver)) if activeVer.exists(_ >= ver) => bound
        case _ => -1L
      }
      val segs = files.flatMap(st => st.getPath.getName match {
          case AppendLogSegmentRe(n) if n.toLong > deadBound =>
            Some((n.toLong, st.getPath.toString))
          case _ => None
        }).sortBy(_._1).map(_._2)
      val active = for {
        v <- activeVer
        st <- files.find(st => verOf(st.getPath.getName).contains(v))
      } yield st.getPath.toString
      val all = segs ++ active
      if (all.isEmpty) spark.read.parquet(dir) // legacy layout
      else {
        // silent-vanish guard: every listed file must contribute at
        // least one row (each seal and each publish writes >= 1).
        // The racing-reader spec caught a file swept mid-read
        // surfacing as SILENTLY EMPTY rather than as a FileNotFound
        // face on the local filesystem — promote that to the
        // retryable face so the retry re-lists instead of returning
        // a short log
        val df = spark.read.parquet(all: _*)
          .withColumn("__file", input_file_name())
        val rows = df.collect()
        val contributed = rows.map(r =>
          r.getString(r.length - 1).split('/').last).toSet
        val missing = all.map(_.split('/').last)
          .filterNot(contributed.contains)
        if (missing.nonEmpty)
          throw new java.io.FileNotFoundException(
            s"append-log file(s) ${missing.mkString(",")} vanished " +
              "mid-read (silent-empty face)")
        val schema = org.apache.spark.sql.types.StructType(
          df.schema.fields.dropRight(1))
        spark.createDataFrame(java.util.Arrays.asList(
          rows.map(r => org.apache.spark.sql.Row.fromSeq(
            r.toSeq.dropRight(1))): _*), schema)
      }
    }
  }

  /** Shared back half of the two appends: drift gate (before any
    * mutation), per-group file adds, append log, meta republished LAST
    * by atomic versioned swap — the store stays continuously readable
    * through the whole append window (old manifest + a valid subset of
    * the new rows; see the protocol note above [[writeSidecarAtomic]]).
    * Callers hold the writer lock. */
  private def appendHierRows(spark: SparkSession, path: String,
      sub: String, meta: org.apache.spark.sql.Row, cq: CoarseQuantizer,
      measured: DataFrame, vecCol: String, writeRows: DataFrame,
      refitThreshold: Double, residual: Option[Boolean],
      guard: MutationGuard): Double = {
    val cpg = meta.getAs[Int]("cells_per_group")
    val base = baseDistortionOf(meta, path, "append")
    val nRows = measured.count()
    require(nRows > 0,
      s"append: batch has no validly-shaped vectors for the $path store")
    val bDist = meanCellDistortion(measured, cq, vecCol)
    requireNoDrift(bDist, base, refitThreshold, path)
    guard.begin() // first mutation: a failure past here keeps the lock
    writeRows
      .withColumn("cell_grp", (col("cell") / cpg).cast("int"))
      .repartition(col("cell_grp"))
      .sortWithinPartitions(col("cell"))
      .write.mode("append").partitionBy("cell_grp")
      .parquet(s"$path/$sub")
    appendLogRow(spark, path, nRows, bDist, base, refitThreshold)
    writeHierMeta(spark, path, cq, cpg, residual, rearmedBase(base, bDist))
    bDist
  }

  private def baseDistortionOf(meta: org.apache.spark.sql.Row,
      path: String, op: String): Double = {
    require(meta.schema.fieldNames.contains("base_distortion"),
      s"$op: store at $path predates the append-era meta (no " +
        "base_distortion) — rebuild with the current writer")
    meta.getAs[Double]("base_distortion")
  }

  /** Rewrite FRAGMENTED groups of a hierarchical layout's tree back to
    * one cell-sorted file each — the periodic pass that undoes append
    * fragmentation. Cost ∝ the groups whose file count exceeds
    * `maxFilesPerGroup`, never the whole tree (at 100 TB a recurring
    * crawl fragments the groups its batches touch; untouched groups
    * must not be re-shuffled to fix them). Compaction REWRITES dirs
    * probes may hold listings of, so the store is formally torn (meta
    * off) for the swap window — a maintenance op, unlike the never-
    * torn appends; run it when probes quiesce, on the crawl cadence.
    * A no-op (nothing fragmented) leaves the store untouched, meta
    * included. Probe results are identical before and after
    * (spec-pinned). Single-writer enforced via the store lock. */
  def compactIvfIndexHier(spark: SparkSession, path: String,
      maxFilesPerGroup: Int = 1): Unit =
    compactPartitionedStore(spark, path, "index", "cell_grp",
      maxFilesPerGroup, sortCol = Some("cell"), "compactIvfIndexHier")

  /** [[compactIvfIndexHier]] for the PQ code tree. */
  def compactIvfPqIndexHier(spark: SparkSession, path: String,
      maxFilesPerGroup: Int = 1): Unit =
    compactPartitionedStore(spark, path, "codes", "cell_grp",
      maxFilesPerGroup, sortCol = Some("cell"), "compactIvfPqIndexHier")

  /** [[compactIvfIndexHier]] for the FLAT per-cell IVF hive tree
    * ([[writeIvfIndex]]/[[appendIvfIndex]]): a recurring crawl lands
    * one file per touched cell per append, fragmenting the hive tree
    * without bound; this rewrites only cells whose file count exceeds
    * the threshold. Same torn-window maintenance contract. */
  def compactIvfIndex(spark: SparkSession, path: String,
      maxFilesPerCell: Int = 1): Unit =
    compactPartitionedStore(spark, path, "index", "cell",
      maxFilesPerCell, sortCol = None, "compactIvfIndex")

  /** [[compactIvfIndex]] for the flat IVF-PQ code tree
    * ([[writeIvfPqIndex]]/[[appendIvfPqIndex]]). */
  def compactIvfPqIndex(spark: SparkSession, path: String,
      maxFilesPerCell: Int = 1): Unit =
    compactPartitionedStore(spark, path, "codes", "cell",
      maxFilesPerCell, sortCol = None, "compactIvfPqIndex")

  /** Compaction for the CELL-LESS flat PQ code table
    * ([[writePqIndex]]/[[appendPqIndex]]): no partition dirs to scope
    * the rewrite to, so when the table's file count exceeds
    * `maxFiles` the WHOLE table rewrites to ~128 MB-target files —
    * cost ∝ |table|, the honest price of the unpartitioned baseline
    * layout (the celled layouts exist precisely so compaction and
    * probes can prune). Same torn-window maintenance contract. */
  def compactPqIndex(spark: SparkSession, path: String,
      maxFiles: Int = 4): Unit = {
    require(maxFiles >= 1, "maxFiles must be >= 1")
    withWriterLock(spark, path, "compactPqIndex") { guard =>
      val fs = hadoopFs(spark, path)
      val (metaRows, metaSchema) = snapshotMeta(spark, path)
      val sub = new org.apache.hadoop.fs.Path(s"$path/codes")
      val files = fs.listStatus(sub).filter(st => st.isFile &&
        st.getPath.getName.endsWith(".parquet"))
      if (files.length > maxFiles) {
        val nOut = math.max(1,
          (files.map(_.getLen).sum / (128L << 20)).toInt)
        val next = new org.apache.hadoop.fs.Path(s"$path/codes_next")
        guard.begin() // meta off = the mutation has started
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/meta"), true)
        spark.read.parquet(sub.toString).repartition(nOut)
          .write.mode("overwrite").parquet(next.toString)
        fs.delete(sub, true)
        require(fs.rename(next, sub), s"compact: rename of $next failed")
        restoreMeta(spark, path, metaRows, metaSchema)
      }
      // bounded file counts are compaction's contract for every store
      // surface: merge the appends-log segments under the same lock
      if (sealedSegments(fs,
          new org.apache.hadoop.fs.Path(s"$path/appends")).nonEmpty) {
        guard.begin()
        compactAppendLog(spark, path)
      }
    }
  }

  /** The one generic partition-scoped compaction core (hier groups and
    * flat hive cells share it): list dirs whose parquet-file count
    * exceeds the threshold, materialize them AWAY from the tree being
    * read (Spark cannot overwrite a path it reads), then swap ONLY the
    * fragmented dirs — the FingerprintIndexStore keys_next shape, per
    * dir. Meta is snapshotted before, off during the swap, restored
    * byte-identical after. */
  private def compactPartitionedStore(spark: SparkSession, path: String,
      sub: String, partCol: String, maxFiles: Int,
      sortCol: Option[String], op: String): Unit = {
    require(maxFiles >= 1, "maxFiles must be >= 1")
    withWriterLock(spark, path, op) { guard =>
      val fs = hadoopFs(spark, path)
      val (metaRows, metaSchema) = snapshotMeta(spark, path)
      val fragmented = fs
        .listStatus(new org.apache.hadoop.fs.Path(s"$path/$sub"))
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(s"$partCol="))
        .filter(g => fs.listStatus(g.getPath).count(f => f.isFile &&
          f.getPath.getName.endsWith(".parquet")) > maxFiles)
        .map(_.getPath)
      if (fragmented.nonEmpty) {
        guard.begin() // meta off = the mutation has started
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/meta"), true)
        val src = spark.read.option("basePath", s"$path/$sub")
          .parquet(fragmented.map(_.toString).toSeq: _*)
          .repartition(col(partCol))
        sortCol.fold(src)(c => src.sortWithinPartitions(col(c)))
          .write.mode("overwrite").partitionBy(partCol)
          .parquet(s"$path/${sub}_next")
        fragmented.foreach { g =>
          val next = new org.apache.hadoop.fs.Path(
            s"$path/${sub}_next/${g.getName}")
          fs.delete(g, true)
          require(fs.rename(next, g), s"compact: rename of $next failed")
        }
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/${sub}_next"), true)
        restoreMeta(spark, path, metaRows, metaSchema)
      }
      // same appends-log segment merge as compactPqIndex: bounded
      // file counts for every store surface, under the same lock
      if (sealedSegments(fs,
          new org.apache.hadoop.fs.Path(s"$path/appends")).nonEmpty) {
        guard.begin()
        compactAppendLog(spark, path)
      }
    }
  }

  /** Capture the live meta manifest (rows + schema, driver-side — one
    * tiny row) so compaction can restore it IDENTICALLY after the
    * swap, whatever the layout's meta schema is. Fails loudly on a
    * torn store before anything mutates. */
  private def snapshotMeta(spark: SparkSession, path: String)
      : (Array[org.apache.spark.sql.Row],
         org.apache.spark.sql.types.StructType) = {
    requireMetaParquet(spark, path)
    val df = readSidecar(spark, s"$path/meta")
    (df.collect(), df.schema)
  }

  private def restoreMeta(spark: SparkSession, path: String,
      rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): Unit =
    writeSidecarAtomic(spark, s"$path/meta",
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema))

  /** LSH-bucketed ANN with multi-probe: candidates = corpus rows whose
    * signature equals the query's signature OR any signature within
    * Hamming distance `probeHamming` of it (each bit flip is one more
    * probe). Recall is tuned by probing MORE buckets of a fine
    * signature — per-query rerank cost is (1 + bits·probeHamming)/2^bits
    * of the corpus, falling as bits grow — instead of shrinking `bits`
    * until each bucket is a fixed (and at scale, enormous) corpus
    * fraction. Probes explode on the broadcast query side only; the
    * corpus keeps one signature row per vector. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int = 8,
      probeHamming: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "qvec",
      md5Basis: Boolean = false): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= 1,
      "probeHamming > 1 unsupported (probe count would be binomial)")
    def sig(v: Column): Column =
      if (md5Basis) graft.plans.HashExpressions.hyperplane_sig_md5(v, bits)
      else hyperplaneSignature(v, bits)
    val sigCorpus = spread(corpus.select(col(idCol), col(vecCol)))
      .select(col(idCol), col(vecCol), sig(col(vecCol)).as("sig"))
    val base = sig(col(qvecCol))
    val probes =
      if (probeHamming == 0) array(base)
      else array(base +: (0 until bits).map(b =>
        base.bitwiseXOR(lit(1L << b))): _*)
    val sigQueries = queries.select(col(qidCol), col(qvecCol),
      explode(probes).as("sig"))
    val cands = sigCorpus.join(broadcast(sigQueries), Seq("sig"))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("sim", cosine(col(vecCol), col(qvecCol)))
    // duplicate probe hits dedup inside the bounded aggregator
    topKPerGroup(cands.select(col(qidCol), col(idCol), col("sim")),
      k, qidCol, idCol)
  }

  // ---- product quantization (PQ / IVF-PQ) ------------------------------

  /** A trained PQ codebook set: `dsub` dims per subspace, `ncodes`
    * centroids per subspace, and the per-(sub, code) float centroids —
    * m = cents.length / ncodes subspaces. `flat` lays the centroids out
    * row-major (sub-major, then code, then dim) as the doubles the
    * kernels and any external replayer consume; floats upcast once
    * here, so kernel and replay arithmetic share identical values. */
  final case class PqCodebooks(ncodes: Int, dsub: Int,
      cents: Seq[(Int, Int, Array[Float])]) {
    val m: Int = cents.length / math.max(1, ncodes)
    def flat: Array[Double] = {
      val out = new Array[Double](cents.length * dsub)
      cents.sortBy(c => (c._1, c._2)).zipWithIndex.foreach {
        case ((_, _, v), i) =>
          var j = 0
          while (j < dsub) { out(i * dsub + j) = v(j).toDouble; j += 1 }
      }
      out
    }
  }

  /** Train PQ codebooks: the d-dim space splits into `m` contiguous
    * subspaces of d/m dims; each gets its own `ncodes`-centroid k-means
    * codebook, fit by the SAME bounded deterministic driver-Lloyd as
    * the coarse quantizer ([[trainCentroids]] on the sliced subvector
    * frame — k-means++ + fixed LCG + sorted sample, so codebooks are
    * layout-independent). m sample scans, all driver-bounded; at 100 TB
    * the fit reads a sliver either way. */
  def trainPqCodebooks(corpus: DataFrame, vecCol: String, m: Int,
      ncodes: Int, trainFraction: Double = 1.0): PqCodebooks = {
    require(m > 0 && ncodes > 1, "need m > 0 subspaces and ncodes > 1")
    val d = corpus.select(size(col(vecCol)).as("d"))
      .filter(col("d") > 0).limit(1).collect()
      .headOption.map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException(
        s"trainPqCodebooks: no non-empty '$vecCol'"))
    require(d % m == 0, s"dim $d must split evenly into m=$m subspaces")
    val dsub = d / m
    val cents = (0 until m).flatMap { s =>
      val sub = corpus.select(
        slice(col(vecCol), s * dsub + 1, dsub).as("__sv"))
      trainCentroids(sub, "__sv", ncodes, trainFraction).map {
        case (code, v) => (s, code, v)
      }
    }
    require(cents.length == m * ncodes,
      s"trainPqCodebooks: got ${cents.length} centroids, expected " +
        s"${m * ncodes} — corpus has fewer distinct subvectors than " +
        "ncodes; lower ncodes")
    PqCodebooks(ncodes, dsub, cents)
  }

  /** Materialize a PQ index: per-subspace codebooks as a tiny sidecar
    * (`path/codebooks`: sub, code, centroid float rows) and the corpus
    * encoded to m-int code arrays (`path/codes`: idCol, codes). The
    * encode is ONE zero-Exchange scan through the codegen'd
    * [[graft.plans.PqEncodeExpr]] kernel (codebook rides the plan as a
    * reference object); at rest each vector is m ints vs d floats —
    * the 100 TB memory story (m·log₂ncodes bits, 32× smaller at
    * m=8/ncodes=16/d=64). This is the SHARED-codebook (non-residual)
    * PQ variant: codes quantize raw vectors, not per-cell residuals —
    * one codebook set serves flat and IVF layouts and every number
    * replays externally. The FAISS-style residual refinement exists on
    * the IVF layout ([[writeIvfPqIndex]] `residual = true`). */
  def writePqIndex(corpus: DataFrame, path: String, m: Int = 8,
      ncodes: Int = 16, idCol: String = "vec_id",
      vecCol: String = "embedding", trainFraction: Double = 1.0,
      codebooks: Option[PqCodebooks] = None): Unit = {
    val spark = corpus.sparkSession
    val cb = codebooks.getOrElse(
      trainPqCodebooks(corpus, vecCol, m, ncodes, trainFraction))
    withWriterLock(spark, path, "writePqIndex") { guard =>
      // frame construction ABOVE begin(): a failure here releases the
      // lock (pure refusal) — begin() is adjacent to the first mutation
      val cbDf = spark.createDataFrame(cb.cents)
        .toDF("sub", "code", "centroid")
      guard.begin()
      beginRebuild(spark, path)
      cbDf.coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
      // rows whose vector has the wrong length (or is null) encode to
      // NULL codes — dead weight in the index: pq_adc yields NULL sim
      // for them on every probe forever. Drop them at WRITE time (one
      // cheap IsNotNull the scan pushes down), so the probe path never
      // carries or re-filters them.
      corpus.select(col(idCol),
          graft.plans.PqExpressions.pq_encode(col(vecCol), cb.ncodes,
            cb.dsub, cb.flat).as("codes"))
        .filter(col("codes").isNotNull)
        .write.mode("overwrite").parquet(s"$path/codes")
      // append-era manifest, LAST: build-time ADC self-distortion (the
      // PQ objective — there are no cells here, so codebook
      // reconstruction error IS the drift signal for appendPqIndex)
      val base = meanSelfAdc(
        corpus.select(col(idCol), col(vecCol))
          .join(spark.read.parquet(s"$path/codes"), Seq(idCol)),
        vecCol, cb)
      import spark.implicits._
      writeSidecarAtomic(spark, s"$path/meta",
        Seq(base).toDF("base_distortion"))
    }
  }

  /** Mean ADC self-distortion of a frame carrying BOTH the (possibly
    * rebased) vector and its codes — the PQ objective the codebook
    * fit minimized; the flat code-table appends' drift signal. */
  private def meanSelfAdc(frame: DataFrame, encCol: String,
      cb: PqCodebooks): Double =
    frame.select(graft.plans.PqExpressions.pq_adc(col(encCol),
        col("codes"), cb.ncodes, cb.dsub, cb.flat).as("__d"))
      .filter(col("__d").isNotNull && !isnan(col("__d")))
      .agg(avg(col("__d"))).head() match {
        case r if r.isNullAt(0) => 0.0
        case r => r.getDouble(0)
      }

  /** Append a batch to a [[writePqIndex]] layout: encode with the
    * PERSISTED codebooks (kernel scan, cost ∝ |batch|), append to the
    * code table, ADC-self-distortion drift gate BEFORE any mutation,
    * `appends` log, meta rewritten LAST — [[appendIvfIndexHier]]'s
    * contract on the cell-less flat table. */
  def appendPqIndex(batch: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      refitThreshold: Double = 2.0): Double = {
    val spark = batch.sparkSession
    withWriterLock(spark, path, "appendPqIndex") { guard =>
    val cb = readPqCodebooks(spark, path)
    val meta = flatMetaRow(spark, path)
    val base = baseDistortionOf(meta, path, "append")
    val rows = batch.select(col(idCol), col(vecCol),
        graft.plans.PqExpressions.pq_encode(col(vecCol), cb.ncodes,
          cb.dsub, cb.flat).as("codes"))
      .filter(col("codes").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nRows = rows.count()
      require(nRows > 0, s"append: empty batch for the $path store")
      val bDist = meanSelfAdc(rows, vecCol, cb)
      requireNoDrift(bDist, base, refitThreshold, path)
      guard.begin() // first mutation: a failure past here keeps the lock
      rows.select(col(idCol), col("codes"))
        .write.mode("append").parquet(s"$path/codes")
      appendLogRow(spark, path, nRows, bDist, base, refitThreshold)
      import spark.implicits._
      writeSidecarAtomic(spark, s"$path/meta",
        Seq(rearmedBase(base, bDist)).toDF("base_distortion"))
      bDist
    } finally { rows.unpersist(); () }
    }
  }

  /** Load a [[writePqIndex]]/[[writeIvfPqIndex]] codebook sidecar,
    * driver-side (m·ncodes rows). */
  def readPqCodebooks(spark: SparkSession, path: String): PqCodebooks = {
    val rows = spark.read.parquet(s"$path/codebooks").collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
      .sortBy(c => (c._1, c._2))
    require(rows.nonEmpty, s"readPqCodebooks: empty sidecar at $path")
    val ncodes = rows.map(_._2).max + 1
    val m = rows.map(_._1).max + 1
    // a torn/hand-edited sidecar must fail here, not as a silent
    // mis-indexed flat array inside the kernels
    require(rows.length == m * ncodes &&
        rows.map(c => (c._1, c._2)).distinct.length == rows.length,
      s"readPqCodebooks: ${rows.length} rows at $path, expected a " +
        s"complete $m×$ncodes grid — torn store?")
    require(rows.forall(_._3.length == rows.head._3.length),
      s"readPqCodebooks: centroid dims drift at $path")
    PqCodebooks(ncodes, rows.head._3.length, rows)
  }

  /** PQ-only (flat ADC) top-k: every query scores the WHOLE code table
    * via the asymmetric distance Σₛ‖qₛ − Cₛ[codeₛ]‖² — a broadcast-join
    * map scan of m-int rows, no vector ever read or shuffled. Ranking
    * is best-first on NEGATED distance through the same bounded
    * [[TopK]] map-side-truncating aggregate as every other knn.
    * The memory-bound baseline; [[ivfPqTopKFromIndex]] adds cell
    * pruning on top. */
  def pqTopKFromIndex(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, idCol: String = "vec_id",
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val cb = readPqCodebooks(spark, path)
    val codes = spread(spark.read.parquet(s"$path/codes"))
    val scored = codes
      .join(broadcast(queries.select(col(qidCol), col(qvecCol))),
        col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol),
        (-graft.plans.PqExpressions.pq_adc(col(qvecCol), col("codes"),
          cb.ncodes, cb.dsub, cb.flat)).as("sim"))
    topKPerGroup(scored, k, qidCol, idCol)
  }

  /** Materialize the IVF-PQ layout — the web-scale ANN shape: codes
    * partitioned on disk by the coarse cell (probe I/O = |probed
    * cells|, storage-level pruning) AND quantized to m ints (probe
    * compute = ADC over 32×-smaller rows). `coarse` is the persisted
    * coarse quantizer (a [[writeIvfIndex]] sidecar — train once, every
    * layout shares the cells); codebooks train here and persist beside
    * the codes, with the coarse centroids copied in so the store is
    * self-contained. */
  def writeIvfPqIndex(corpus: DataFrame, path: String,
      coarse: Seq[(Int, Array[Float])], m: Int = 8, ncodes: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainFraction: Double = 1.0, residual: Boolean = false,
      codebooks: Option[PqCodebooks] = None): Unit = {
    val spark = corpus.sparkSession
    // `residual = true` is the FAISS-style refinement: codebooks train
    // on, and codes quantize, v − c_cell instead of v — within-cell
    // variance is much smaller than corpus variance, so the same
    // m·log₂ncodes bits buy a finer quantization. Residuals are
    // computed in DOUBLE (cast both sides before the zip_with
    // subtract): float subtraction would round each element and the
    // external replay — double arithmetic on the same exact float
    // values — could not reproduce it bit-for-bit. The zip_with runs
    // interpreted per element, which is fine HERE (one-time build
    // scan, amortized over every probe); the probe path stays on the
    // codegen kernels. The layout self-describes via `$path/meta`
    // (residual flag), so a probe can never silently mis-read one
    // variant as the other.
    val celled = corpus.select(col(idCol), col(vecCol),
      nearestCell(col(vecCol), coarse).as("cell"))
    val centDf = spark.createDataFrame(coarse).toDF("cell", "centroid")
    val encodeSrc =
      if (!residual) celled.withColumn("__enc", col(vecCol))
      else rebaseByCell(celled, centDf, vecCol, "__enc")
    // materialize the encode source ONCE for the build's ~18 actions
    // (m subspace fits each count+collect, the dim probe, the final
    // encode, the distortion base): on the residual path every action
    // would otherwise re-run the nlist-way cell argmax and the
    // per-element residual lambda over the whole corpus. Everything
    // lands on disk inside this function, so the unpersist is safe —
    // no returned frame can recompute.
    encodeSrc.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try withWriterLock(spark, path, "writeIvfPqIndex") { guard =>
      // the PQ fit (an action that can legitimately fail on bad data)
      // and frame construction run ABOVE begin(): a failure here is a
      // pure refusal that releases the lock — begin() is adjacent to
      // the first disk mutation
      val cb = codebooks.getOrElse(
        trainPqCodebooks(encodeSrc, "__enc", m, ncodes, trainFraction))
      val cbDf = spark.createDataFrame(cb.cents)
        .toDF("sub", "code", "centroid")
      guard.begin()
      beginRebuild(spark, path)
      cbDf.coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
      centDf.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
      // same null-code drop as writePqIndex: wrong-length vectors must
      // not persist as forever-null ADC rows
      encodeSrc.select(col(idCol), col("cell"),
          graft.plans.PqExpressions.pq_encode(col("__enc"), cb.ncodes,
            cb.dsub, cb.flat).as("codes"))
        .filter(col("codes").isNotNull)
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
      // meta LAST (the torn-store anchor readIvfPqMeta enforces),
      // now carrying the coarse-drift base for appendIvfPqIndex —
      // residual stays column 0 (readIvfPqMeta reads positionally)
      val base = meanCellDistortionTable(
        encodeSrc.filter(col("cell").isNotNull),
        centTableOf(spark, coarse), vecCol)
      import spark.implicits._
      writeSidecarAtomic(spark, s"$path/meta",
        Seq((residual, base)).toDF("residual", "base_distortion"))
    } finally { encodeSrc.unpersist(); () }
  }

  /** Append a batch to a [[writeIvfPqIndex]] (flat) layout: assigned
    * with the persisted centroids, encoded with the persisted
    * codebooks (residual rebase when the meta says so), per-cell file
    * adds under the meta-last torn-write contract, coarse-drift gate
    * and `appends` log — [[appendIvfPqIndexHier]]'s flat sibling. */
  def appendIvfPqIndex(batch: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      refitThreshold: Double = 2.0): Double = {
    val spark = batch.sparkSession
    withWriterLock(spark, path, "appendIvfPqIndex") { guard =>
    val cents = readCentroids(spark, path)
    val cb = readPqCodebooks(spark, path)
    val meta = flatMetaRow(spark, path)
    val residual = meta.getAs[Boolean]("residual")
    val base = baseDistortionOf(meta, path, "append")
    val celled = batch.select(col(idCol), col(vecCol),
      nearestCell(col(vecCol), cents).as("cell"))
    val encodeSrc =
      (if (!residual) celled.withColumn("__enc", col(vecCol))
      else rebaseByCell(celled,
        spark.createDataFrame(cents).toDF("cell", "centroid"),
        vecCol, "__enc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nRows = encodeSrc.count()
      require(nRows > 0, s"append: empty batch for the $path store")
      val bDist = meanCellDistortionTable(encodeSrc,
        centTableOf(spark, cents), vecCol)
      requireNoDrift(bDist, base, refitThreshold, path)
      guard.begin() // first mutation: a failure past here keeps the lock
      encodeSrc.select(col(idCol), col("cell"),
          graft.plans.PqExpressions.pq_encode(col("__enc"), cb.ncodes,
            cb.dsub, cb.flat).as("codes"))
        .filter(col("codes").isNotNull)
        .write.mode("append").partitionBy("cell").parquet(s"$path/codes")
      appendLogRow(spark, path, nRows, bDist, base, refitThreshold)
      import spark.implicits._
      // residual stays column 0 (readIvfPqMeta reads positionally)
      writeSidecarAtomic(spark, s"$path/meta",
        Seq((residual, rearmedBase(base, bDist)))
          .toDF("residual", "base_distortion"))
      bDist
    } finally { encodeSrc.unpersist(); () }
    }
  }

  /** The residual flag of a [[writeIvfPqIndex]] layout. Every layout
    * the RELEASED writer produces carries the meta sidecar, so a
    * `$path/codes` store with no readable meta is either torn /
    * partially copied (committer configured with
    * marksuccessfuljobs=false, an interrupted distcp) or from an
    * interim pre-meta build — and defaulting EITHER to non-residual
    * would probe a residual index without the query rebase: wrong
    * neighbors, no error. Fail loudly instead; pre-meta stores should
    * be rebuilt (the staging staleness rule does this automatically
    * via its alsoRequire check). The test looks for actual meta
    * PARQUET files via Hadoop FS (not java.io.File — a local-only
    * test on an HDFS/S3 layout would always miss — and not `_SUCCESS`
    * alone, which a marksuccessfuljobs=false committer legitimately
    * omits). */
  def readIvfPqMeta(spark: SparkSession, path: String): Boolean = {
    requireMetaParquet(spark, path)
    readSidecarRows(spark, s"$path/meta").head.getBoolean(0)
  }

  /** Materialize the HIERARCHICAL IVF-PQ layout — [[writeIvfPqIndex]]
    * with the two-level quantizer in place of the flat one: codes
    * partitioned by the composed cell (probe I/O = |probed cells|),
    * assignment through the O(√nlist) [[assignCellHier]] kernel (the
    * flat path's literal fold caps out at nlist ≈ 4096), quantizer +
    * codebooks + meta persisted as self-contained sidecars. This is
    * the full web-scale shape: nlist ∝ n cells via the distributed
    * fit, m-int codes at rest, partition-pruned beam probes. */
  /** @param cellsPerGroup directory fan-out control: codes partition
    *   on `cell_grp = cell / cellsPerGroup`, NOT on the raw cell — at
    *   the nlist ∝ n sizing (10⁵⁻⁶ cells) one directory per cell is a
    *   file-listing/metastore problem all of its own, while ~nlist/64
    *   group dirs stay bounded. Files are repartitioned one-per-group
    *   and SORTED by cell, so a probe prunes group dirs at the listing
    *   AND unprobed cells at the parquet row-group stats — two-level
    *   pruning in place of one. */
  def writeIvfPqIndexHier(corpus: DataFrame, path: String,
      cq: CoarseQuantizer, m: Int = 8, ncodes: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainFraction: Double = 1.0, residual: Boolean = false,
      cellsPerGroup: Int = 64,
      codebooks: Option[PqCodebooks] = None): Unit = {
    require(cellsPerGroup > 0, "cellsPerGroup must be positive")
    val spark = corpus.sparkSession
    val celled = corpus.select(col(idCol), col(vecCol),
      assignCellHier(col(vecCol), cq).as("cell"))
    // composed-cell centroid table for the residual rebase: nlist rows
    // of the LEVEL-2 centroids (the cell a vector actually lands in)
    val encodeSrc =
      if (!residual) celled.withColumn("__enc", col(vecCol))
      else rebaseByCell(celled, composedCentroids(spark, cq),
        vecCol, "__enc")
    // same materialize-once rationale as writeIvfPqIndex: the m
    // subspace fits, the dim probe and the final encode all re-derive
    // the assignment (and residual lambda) without it
    // distortion needs the celled vectors TWICE (measure + encode) —
    // persist on both variants now, not just residual's many actions
    encodeSrc.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try withWriterLock(spark, path, "writeIvfPqIndexHier") { guard =>
      // `codebooks` bypasses the PQ fit with pre-trained books — the
      // append ≡ rebuild comparison shape (an appended store's codes
      // come from the BUILD-time books, so the rebuild side must too).
      // The fit (an action that can legitimately fail on bad data) and
      // frame construction run ABOVE begin(): a failure here is a pure
      // refusal that releases the lock — begin() is adjacent to the
      // first disk mutation
      val cb = codebooks.getOrElse(trainPqCodebooks(encodeSrc, "__enc",
        m, ncodes, trainFraction))
      val cbDf = spark.createDataFrame(cb.cents)
        .toDF("sub", "code", "centroid")
      val l1Df = spark.createDataFrame(
          cq.l1.map { case (c1, v) => (c1, v.toSeq) })
        .toDF("c1", "centroid")
      val l2Df = spark.createDataFrame(
          cq.l2.map { case (c1, c2, v) => (c1, c2, v.toSeq) })
        .toDF("c1", "c2", "centroid")
      guard.begin()
      beginRebuild(spark, path)
      cbDf.coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
      l1Df.coalesce(1).write.mode("overwrite").parquet(s"$path/l1")
      l2Df.coalesce(1).write.mode("overwrite").parquet(s"$path/quantizer")
      encodeSrc.select(col(idCol), col("cell"),
          graft.plans.PqExpressions.pq_encode(col("__enc"), cb.ncodes,
            cb.dsub, cb.flat).as("codes"))
        .filter(col("codes").isNotNull)
        .withColumn("cell_grp",
          (col("cell") / cellsPerGroup).cast("int"))
        // one file per group, cell-sorted inside: the shuffle carries
        // slim (id, cell, 8-int codes) rows — the 32×-smaller half of
        // the layout, never vectors
        .repartition(col("cell_grp"))
        .sortWithinPartitions(col("cell"))
        .write.mode("overwrite").partitionBy("cell_grp")
        .parquet(s"$path/codes")
      // coarse-quantizer distortion over the build corpus (the codes
      // layout stores no vectors, so measure the PERSISTED encode
      // frame — it carries vec + cell); meta goes strictly LAST
      val base = meanCellDistortion(
        encodeSrc.filter(col("cell").isNotNull), cq, vecCol)
      writeHierMeta(spark, path, cq, cellsPerGroup, Some(residual), base)
    } finally { encodeSrc.unpersist(); () }
  }

  /** The residual flag of a [[writeIvfPqIndexHier]] layout — same
    * fail-loudly torn-store contract as [[readIvfPqMeta]]. */
  def readIvfPqHierMeta(spark: SparkSession, path: String): Boolean =
    hierMetaRow(spark, path).getAs[Boolean]("residual")

  /** The one-row meta sidecar of a hierarchical layout, read ONCE per
    * probe call (a probe needs k1/k2/dim, cells_per_group and — on the
    * PQ layout — the residual flag; reading the same one-row file
    * three times cost three driver jobs per query batch). Fail-loudly
    * presence check per the readIvfPqMeta convention. */
  private def hierMetaRow(spark: SparkSession,
      path: String): org.apache.spark.sql.Row = {
    requireMetaParquet(spark, path)
    readSidecarRows(spark, s"$path/meta").head
  }

  /** Probe a hierarchical IVF-PQ layout: the [[ivfPqTopKFromIndex]]
    * plan with the O(√nlist) beam probe in place of the literal fold —
    * partition-pruned code scan, m-int ADC, residual query rebase when
    * the layout says so. */
  def ivfPqHierTopKFromIndex(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, nprobe: Int = 4, beam: Int = 2,
      idCol: String = "vec_id", qidCol: String = "qid",
      qvecCol: String = "qvec"): DataFrame = {
    val meta = hierMetaRow(spark, path)
    val cq = readCoarseQuantizer(spark, path, Some(meta))
    val cb = readPqCodebooks(spark, path)
    val residual = meta.getAs[Boolean]("residual")
    val probes0 = queries.select(col(qidCol), col(qvecCol),
      explode(probeCellsHier(col(qvecCol), cq, nprobe, beam)).as("cell"))
    val probes = (if (!residual) probes0
      else rebaseByCell(probes0, composedCentroids(spark, cq),
        qvecCol, qvecCol)).localCheckpoint(eager = true)
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)) // |q|·nprobe ints — driver-bounded
    val cpg = meta.getAs[Int]("cells_per_group")
    val probedGroups = probedCells.map(_ / cpg).distinct
    // two-level pruning: probed group dirs at the partition discovery
    // (probedGroupScan — only they are even listed), then cells at
    // the parquet row-group stats (files are cell-sorted) and the row
    // filter — see writeIvfPqIndexHier's layout rationale
    val codes = probedGroupScan(spark, s"$path/codes",
      probedGroups, probedCells)
    val scored = codes.join(broadcast(probes), Seq("cell"))
      .filter(col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol),
        (-graft.plans.PqExpressions.pq_adc(col(qvecCol), col("codes"),
          cb.ncodes, cb.dsub, cb.flat)).as("sim"))
    topKPerGroup(scored, k, qidCol, idCol)
  }

  // ---- lazy (past-broadcast-ceiling) hierarchical probes ---------------

  /** The composed (cell, centroid) table read RELATIONALLY from the
    * quantizer sidecar — the lazy regime's replacement for
    * [[composedCentroids]], which materializes the whole l2 grid
    * driver-side. Callers MUST filter to probed cells before
    * broadcasting it (that is the point: |probed|·d values move, not
    * nlist·d). */
  private def sidecarComposedCentroids(spark: SparkSession,
      path: String, k2: Int): DataFrame =
    spark.read.parquet(s"$path/quantizer")
      .select((col("c1") * lit(k2) + col("c2")).cast("int").as("cell"),
        col("centroid"))

  /** Beam-opened probe cells as a DATAFRAME (qid, qvec, cell) — the
    * probe shape for the regime PAST the broadcast carrier's ceiling
    * (nlist ~10⁶ at d ≥ 1024: l2 ≥ 8 GB resident per executor — the
    * ceiling [[graft.plans.CoarseTables]] names). Nothing here ever
    * materializes or broadcasts the l2 grid:
    *
    *   - stage 1 (the level-1 beam) runs the SAME kernel as
    *     [[probeCellsHier]] over the √nlist-sized l1 viewed as a
    *     k2 = 1 quantizer — plan-sized tables, exact stage-1 tie-break
    *     semantics by construction (same code path);
    *   - stage 2 scores ONLY the beam-opened level-1 cells' k2-sized
    *     sub-tables, read relationally from the quantizer sidecar (the
    *     sidecar is (c1, c2)-sorted at write, so the `c1 isin(opened)`
    *     predicate prunes at the parquet row-group stats); executors
    *     stream the scan's batches — residency is ∝ beam·k2·d per
    *     query batch, never nlist·d.
    *
    * Exact parity with the kernel probe is spec-pinned: cosine_sim IS
    * the kernel's cosAt arithmetic (sequential double, per-element
    * float upcast), NaN sanitizes to −∞ exactly like the kernel's fill
    * loop, and the (sim desc, composed cell asc) window reproduces the
    * kernel's stage-2 tie-break. */
  private def lazyHierProbes(spark: SparkSession, path: String,
      meta: org.apache.spark.sql.Row, queries: DataFrame, nprobe: Int,
      beam: Int, qidCol: String, qvecCol: String): DataFrame = {
    val (k1, k2, dim) = (meta.getAs[Int]("k1"), meta.getAs[Int]("k2"),
      meta.getAs[Int]("dim"))
    val l1 = readL1Sidecar(spark, path, k1, dim)
    // l1 as a k2=1 quantizer: the stage-1 beam through the REAL kernel
    // (composed id ≡ level-1 index when k2 = 1), nprobe = beam so all
    // opened cells come back
    val l1Cq = CoarseQuantizer(k1, 1, dim, l1,
      l1.map { case (c, v) => (c, 0, v) })
    val probesL1 = queries.select(col(qidCol), col(qvecCol),
        explode(probeCellsHier(col(qvecCol), l1Cq, beam, beam)).as("c1"))
      .localCheckpoint(eager = true)
    // ONE eager pass returns the opened level-1 cells AND the
    // grid-completeness gate — the lazy path's analog of
    // readCoarseQuantizer's full-grid validation (a torn or
    // partially-copied quantizer sidecar would otherwise silently
    // DROP candidate cells here — wrong top-k, no exception — where
    // the kernel path refuses loudly). r16 ran these as two eager
    // passes (distinct-collect, then a second gate scan keyed on its
    // result); the LEFT join folds them: a missing c1 counts 0 where
    // an inner count would hide it, and only (c1, c2) ints ever move
    // — never a centroid, preserving the residency bound this lazy
    // path exists for.
    val perC1 = probesL1.select("c1").distinct()
      .join(spark.read.parquet(s"$path/quantizer")
        .select(col("c1"), col("c2")), Seq("c1"), "left")
      .groupBy("c1").agg(count(col("c2")).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val opened = perC1.keySet.toArray // |q|·beam ints — driver-bounded
    val torn = opened.filter(c1 => perC1.getOrElse(c1, 0L) != k2.toLong)
    require(torn.isEmpty,
      s"quantizer sidecar at $path/quantizer is torn: level-1 cell(s) " +
        torn.sorted.take(8).map(c1 =>
          s"$c1 (${perC1.getOrElse(c1, 0L)} of $k2 sub-cells)")
          .mkString(", ") +
        (if (torn.length > 8) s" and ${torn.length - 8} more" else "") +
        " — the store was interrupted mid-copy or mid-rebuild; " +
        "restore or rebuild it before probing")
    val sub = spark.read.parquet(s"$path/quantizer")
      .filter(col("c1").isin(opened.toSeq: _*))
      .select(col("c1"),
        (col("c1") * lit(k2) + col("c2")).cast("int").as("cell"),
        col("centroid"))
    val s = cosine(col("centroid"), col(qvecCol))
    val scored = sub.join(broadcast(probesL1), Seq("c1"))
      .withColumn("__s",
        when(isnan(s), lit(Double.NegativeInfinity)).otherwise(s))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol))
      .orderBy(col("__s").desc, col("cell").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= nprobe)
      .select(col(qidCol), col(qvecCol), col("cell"))
  }

  /** [[ivfHierTopKFromIndex]] through the LAZY probe
    * ([[lazyHierProbes]]) — row-identical results (spec-pinned and
    * strict-oracle-replayed), executor table residency ∝ beam·k2·d
    * instead of nlist·d. Deploy this shape past the broadcast
    * carrier's ceiling; below it the kernel probe wins (no sidecar
    * scan, no probe window shuffle per query batch). */
  def ivfHierTopKFromIndexLazy(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, nprobe: Int = 4, beam: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val meta = hierMetaRow(spark, path)
    val probes = lazyHierProbes(spark, path, meta, queries, nprobe,
      beam, qidCol, qvecCol).localCheckpoint(eager = true)
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)) // |q|·nprobe ints — driver-bounded
    val cpg = meta.getAs[Int]("cells_per_group")
    val probedGroups = probedCells.map(_ / cpg).distinct
    val index = probedGroupScan(spark, s"$path/index",
      probedGroups, probedCells)
    rerankWithinCells(index, probes, k, idCol, vecCol, qidCol, qvecCol)
  }

  /** [[ivfPqHierTopKFromIndex]] through the LAZY probe — the 100 TB
    * endgame shape: m-int ADC over the group/cell-pruned code tree,
    * residual query rebase against the SIDECAR-backed centroid table
    * filtered to probed cells (|probed|·d values broadcast — never
    * the nlist·d grid), and no l2 table resident anywhere. */
  def ivfPqHierTopKFromIndexLazy(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, nprobe: Int = 4, beam: Int = 2,
      idCol: String = "vec_id", qidCol: String = "qid",
      qvecCol: String = "qvec"): DataFrame = {
    val meta = hierMetaRow(spark, path)
    val cb = readPqCodebooks(spark, path)
    val residual = meta.getAs[Boolean]("residual")
    val k2 = meta.getAs[Int]("k2")
    val probes0 = lazyHierProbes(spark, path, meta, queries, nprobe,
      beam, qidCol, qvecCol).localCheckpoint(eager = true)
    val probedCells = probes0.select("cell").distinct()
      .collect().map(_.getInt(0)) // |q|·nprobe ints — driver-bounded
    // no second checkpoint after the rebase (r16 had one — a whole
    // extra eager pass + driver gap per probe): the rebase is a
    // deterministic map of the ALREADY-checkpointed probes0 against
    // the cell-pruned sidecar centroids, so the broadcast build below
    // re-derives identical rows at |probes|·d map cost
    val probes = if (!residual) probes0
      else rebaseByCell(probes0,
        sidecarComposedCentroids(spark, path, k2)
          .filter(col("cell").isin(probedCells.toSeq: _*)),
        qvecCol, qvecCol)
    val cpg = meta.getAs[Int]("cells_per_group")
    val probedGroups = probedCells.map(_ / cpg).distinct
    val codes = probedGroupScan(spark, s"$path/codes",
      probedGroups, probedCells)
    val scored = codes.join(broadcast(probes), Seq("cell"))
      .filter(col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol),
        (-graft.plans.PqExpressions.pq_adc(col(qvecCol), col("codes"),
          cb.ncodes, cb.dsub, cb.flat)).as("sim"))
    topKPerGroup(scored, k, qidCol, idCol)
  }

  /** Refined hierarchical IVF-PQ search — the FAISS refine stage: the
    * ADC probe shortlists `k·refineFactor` candidates per query from
    * the code table (I/O and compute bounded by probed cells and
    * m-int rows), then ONLY those candidates' raw vectors are read
    * for an exact-cosine rerank to the final k. The candidate set is
    * |q|·k·refineFactor rows — it BROADCASTS into the corpus scan, so
    * raw vectors are touched once, filtered at the join, and never
    * shuffled. Result law (spec-pinned): exactly the exact-cosine
    * ranking RESTRICTED to the ADC shortlist — PQ decides what gets
    * looked at, floats decide the order. */
  def ivfPqHierTopKRefined(spark: SparkSession, path: String,
      corpus: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 4, beam: Int = 2, refineFactor: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    require(refineFactor >= 1, "refineFactor must be >= 1")
    val shortlist = ivfPqHierTopKFromIndex(spark, path, queries,
        k * refineFactor, nprobe, beam, idCol, qidCol, qvecCol)
      .select(col(qidCol), col(idCol))
    val scored = corpus.select(col(idCol), col(vecCol))
      .join(broadcast(shortlist), Seq(idCol))
      .join(broadcast(queries.select(col(qidCol), col(qvecCol))),
        Seq(qidCol))
      .select(col(qidCol), col(idCol),
        cosine(col(vecCol), col(qvecCol)).as("sim"))
    topKPerGroup(scored, k, qidCol, idCol)
  }

  /** Probe an IVF-PQ layout: nprobe nearest cells per query (coarse
    * centroids folded into the probe expression), partition-pruned
    * scan of ONLY those cells' code files, ADC rank within them. The
    * full ANN scale path: I/O bounded by probed cells, compute by
    * m-int ADC, memory by the code table — vectors appear nowhere. */
  def ivfPqTopKFromIndex(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, nprobe: Int = 4,
      idCol: String = "vec_id", qidCol: String = "qid",
      qvecCol: String = "qvec"): DataFrame = {
    val cents = readCentroids(spark, path)
    val cb = readPqCodebooks(spark, path)
    val residual = readIvfPqMeta(spark, path)
    // same materialize-once contract as ivfTopKFromIndex: the pruning
    // collect and the rerank join must see identical probe rows
    val probes0 = queries.select(col(qidCol), col(qvecCol),
      explode(probeCells(col(qvecCol), cents, nprobe)).as("cell"))
    // residual layout: the query rebases to q − c_cell per probed cell
    // (probe-frame-sized work — |q|·nprobe rows against an nlist-row
    // broadcast; double arithmetic for the same replayability reason
    // as the build side). ADC against residual codes then scores
    // ‖(q−c) − quant(v−c)‖² — the same true-distance approximation in
    // every probed cell, so ranks compare across cells.
    val probes = (if (!residual) probes0
      else rebaseByCell(probes0,
        spark.createDataFrame(cents).toDF("cell", "centroid"),
        qvecCol, qvecCol)).localCheckpoint(eager = true)
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)) // |q|·nprobe ints — driver-bounded
    val codes = spark.read.parquet(s"$path/codes")
      .filter(col("cell").isin(probedCells.toSeq: _*)) // partition pruning
    val scored = codes.join(broadcast(probes), Seq("cell"))
      .filter(col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol),
        (-graft.plans.PqExpressions.pq_adc(col(qvecCol), col("codes"),
          cb.ncodes, cb.dsub, cb.flat)).as("sim"))
    topKPerGroup(scored, k, qidCol, idCol)
  }
}
