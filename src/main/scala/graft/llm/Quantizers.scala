package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deterministic quantizer training for the ANN ladder — the quality
  * half of [[SimilarityOps.ivfTopK]] / [[SimilarityOps.pqTopK]] /
  * [[SimilarityOps.ivfPqTopK]], which take trained centroids/codebooks
  * through their `centroids` / `codebook` seams but default to
  * hash-order-sampled corpus vectors.
  *
  * Both trainers are Lloyd's k-means with every source of
  * nondeterminism pinned:
  *
  *   - the training sample is the hash-order top-`trainSize` corpus
  *     vectors (the serving defaults' own pick,
  *     [[SimilarityOps.hashOrderPick]] — a deterministic pseudo-random
  *     sample, reproducible across runs, engines, and partitionings), and
  *     FAISS-style training on a bounded sample is also what makes the
  *     cost shape scale-safe: the full corpus is never shuffled or
  *     iterated, only the sample is;
  *   - vectors are quantized by the serving path's own quantizer
  *     ([[SimilarityOps.quantize]], floor(x·1000) longs); assignment uses the
  *     SAME exact-integer kernel the serving path uses
  *     ([[graft.functions.VecFunctions.nearest_cells_q]] for IVF,
  *     [[graft.functions.VecFunctions.pq_encode]] for PQ), so a vector
  *     trains into exactly the cell/codeword it will later be served
  *     from;
  *   - the centroid update is the element-wise floor of the mean
  *     (floor(Σv / n), computed in doubles that stay far inside the
  *     2^53 exact-integer range), a fixed `iters` iteration count, and
  *     empty cells keep their previous centroid — no RNG, no
  *     convergence test, no tie that isn't broken by position.
  *
  * Each iteration runs as DataFrame jobs over the persisted sample
  * (assignment is one kernel projection; the update is one
  * groupBy(cell, dim) sum — ≤ k·dims result rows); the k·dims-long
  * model state is collected to the driver between iterations, the
  * same coordination shape Spark MLlib's KMeans uses. That collect is
  * model state, not data: its size is independent of the corpus.
  *
  * Returned centroids are float vectors with an exact quantization
  * round-trip: component q is emitted as (2q+1)/2000, for which
  * floor(x·1000) recovers exactly q — so the serving path's internal
  * re-quantization reproduces the trained integer centroids
  * bit-for-bit.
  */
object Quantizers {

  private val V = graft.functions.VecFunctions

  /** Driver-side quantized centroids as a literal of the folded
    * centroid row the serving kernels read positionally:
    * (cell, cq, cnq) structs, cnq the squared norm. */
  private def centroidLit(cents: Seq[(Long, Array[Long])]): Column =
    typedlit(cents.map { case (cell, q) => (cell, q.toSeq, q.map(v => v * v).sum) })

  /** floats whose floor(x·1000) quantization is exactly `q` */
  private def exactFloats(q: Array[Long]): Array[Float] =
    q.map(v => ((2 * v + 1) / 2000.0).toFloat)

  /** Hash-order top-`n` sample, pre-quantized. The orderBy+limit plans
    * as TakeOrderedAndProject (distributed partial top-k — no full
    * sort, no count() pre-scan); quantization projects AFTER the limit
    * so it runs on n rows, not the corpus.
    */
  private def sampleQ(corpus: DataFrame, idCol: String, embCol: String,
      n: Int): DataFrame =
    SimilarityOps.hashOrderPick(corpus, idCol, embCol, n, "id", "emb")
      .select(col("id"), SimilarityOps.quantize(col("emb")).as("q"))

  /** Element-wise floor-of-mean update, shared by both trainers: for
    * each (cluster, dim), floor(Σv / n) — with missing (cluster, dim)
    * combinations (empty clusters) keeping the previous value.
    */
  private def applyUpdate(prev: Array[(Long, Array[Long])],
      rows: Array[org.apache.spark.sql.Row]): Array[(Long, Array[Long])] = {
    val byCluster = rows.groupBy(_.getLong(0))
    prev.map { case (cid, old) =>
      byCluster.get(cid) match {
        case Some(rs) =>
          val nv = old.clone()
          rs.foreach(r => nv(r.getInt(1)) = r.getLong(2))
          (cid, nv)
        case None => (cid, old)
      }
    }
  }

  /** Trained IVF coarse quantizer: k centroids (cell 0..k-1) as a
    * (cell, centroid) frame directly pluggable into
    * [[SimilarityOps.ivfTopK]] / [[SimilarityOps.ivfPqTopK]].
    * Assignment metric is the serving path's exact quantized cosine.
    * Seeding defaults to deterministic greedy maximin
    * ([[maximinSeed]], the RNG-free k-means++ analogue — most
    * angularly spread picks first); pass `seeding = "hash"` for the
    * plain hash-order seed. Degenerate inputs degrade, never throw:
    * a corpus smaller than k yields one centroid per vector, an
    * empty corpus an empty frame (serving with either stays
    * well-defined), and cells that lose all members keep their
    * previous centroid.
    */
  def trainIvfCentroids(corpus: DataFrame, idCol: String, embCol: String,
      k: Int, iters: Int = 5, trainSize: Int = 4096,
      seeding: String = "maximin"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(trainSize >= k, s"trainSize ($trainSize) must be >= k ($k)")
    require(seeding == "maximin" || seeding == "hash",
      s"seeding must be 'maximin' or 'hash', got '$seeding'")
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = sampleQ(corpus, idCol, embCol, trainSize)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val seed =
        if (seeding == "hash")
          sample.orderBy(SimilarityOps.hashOrder(col("id")), col("id")).limit(k)
            .select(col("q")).as[Array[Long]].collect()
        else maximinSeed(sample, k)
      var cents: Array[(Long, Array[Long])] =
        seed.zipWithIndex.map { case (q, i) => (i.toLong, q) }
      var it = 0
      while (it < iters) {
        val centsLit = centroidLit(cents.toSeq)
        val update = sample
          .select(element_at(V.nearest_cells_q(col("q"), centsLit, 1), 1).as("cell"),
            posexplode(col("q")))
          .groupBy("cell", "pos")
          .agg(sum("col").as("s"), count(lit(1)).as("n"))
          .select(col("cell"), col("pos"),
            floor(col("s").cast("double") / col("n")).cast("long").as("v"))
          .collect()
        cents = applyUpdate(cents, update)
        it += 1
      }
      cents.toSeq.map { case (cell, q) => (cell, exactFloats(q)) }
        .toDF("cell", "centroid")
    } finally sample.unpersist()
  }

  /** Deterministic greedy maximin seeding (the RNG-free analogue of
    * k-means++): start from the hash-order-first sample vector, then
    * repeatedly pick the sample vector whose MAXIMUM quantized cosine
    * to the already-chosen set is smallest (the most angularly spread
    * candidate), id tie-break. Runs on the DRIVER over one collect of
    * the persisted sample: the sample is bounded by `trainSize`
    * (model-state-sized — ~2 MB at the 4096×64 default — independent
    * of the corpus, which is never collected), and the greedy loop is
    * O(k·n·d) arithmetic that as k sequential cluster jobs paid ~k
    * scheduler round-trips for microseconds of math (measured: the
    * k=256 seeding dominated whole training runs). The scoring is the
    * serving path's exact metric — floor(dot·1e6 / √(|q|²·|c|²)) in
    * the same double arithmetic the previous distributed form used —
    * so picks are bit-identical to it. Stops early when every
    * distinct sample vector is chosen (degenerate corpora keep the
    * degrade-never-throw contract).
    */
  private def maximinSeed(sample: DataFrame, k: Int): Array[Array[Long]] = {
    val spark = sample.sparkSession
    import spark.implicits._
    // one bounded collect, in the exact hash order the distributed
    // form's per-pick orderBy used (id tie-break)
    val rows: Array[(Long, Array[Long])] = sample
      .select(col("id").cast("long"), col("q"))
      .as[(Long, Array[Long])].collect()
      .sortBy { case (id, _) => (SimilarityOps.hashOrder(id), id) }
    if (rows.isEmpty) return Array.empty
    val norms = rows.map { case (_, q) => q.map(v => v * v).sum }
    // mc(i) = max quantized cosine of sample i to the chosen set so
    // far; each new pick only needs one pass updating the running max
    val mc = Array.fill(rows.length)(Long.MinValue)
    var chosen = Vector(rows(0)._2)
    var lastPick = 0
    val target = math.min(k, rows.length)
    while (chosen.size < target) {
      val (_, cq) = rows(lastPick)
      val cn = norms(lastPick)
      var i = 0
      var best = -1
      while (i < rows.length) {
        val (_, q) = rows(i)
        var dot = 0L
        var d = 0
        while (d < q.length) { dot += q(d) * cq(d); d += 1 }
        val cos =
          if (norms(i) == 0 || cn == 0) 0L
          else math.floor(dot.toDouble * 1e6 /
            math.sqrt((norms(i) * cn).toDouble)).toLong
        if (cos > mc(i)) mc(i) = cos
        // argmin over (mc, id): rows is hash-then-id ordered, which is
        // NOT id order — track the true (mc, id) minimum explicitly
        if (best < 0 || mc(i) < mc(best) ||
            (mc(i) == mc(best) && rows(i)._1 < rows(best)._1)) best = i
        i += 1
      }
      chosen = chosen :+ rows(best)._2
      lastPick = best
    }
    chosen.toArray
  }

  /** Trained PQ codebook: ksub full-width entries (cid 0..ksub-1)
    * whose subspace j IS codeword (j, c) — per-subspace k-means (each
    * of the m subspaces clusters independently, the standard PQ
    * training) assembled into the full-width (cid, cvec) layout
    * [[SimilarityOps.pqTopK]] / [[SimilarityOps.ivfPqTopK]] consume.
    * Assignment metric is the serving path's exact integer subspace L2
    * (one [[graft.functions.VecFunctions.pq_encode]] call assigns all
    * m subspaces).
    */
  def trainPqCodebook(corpus: DataFrame, idCol: String, embCol: String,
      m: Int = 8, ksub: Int = 16, iters: Int = 5,
      trainSize: Int = 4096): DataFrame = {
    require(m > 0, s"m must be positive, got $m")
    require(ksub > 0, s"ksub must be positive, got $ksub")
    require(trainSize >= ksub, s"trainSize ($trainSize) must be >= ksub ($ksub)")
    pqKmeans(sampleQ(corpus, idCol, embCol, trainSize), m, ksub, iters)
  }

  /** Residual PQ codebook for [[SimilarityOps.ivfPqTopK]]'s
    * `residual = true` mode: the same per-subspace k-means, trained on
    * (x − centroid of x's cell) instead of raw vectors — the
    * FAISS-standard pairing where codewords model the within-cell
    * spread the coarse quantizer leaves behind. `centroids` is the
    * (cell, centroid) frame the serving call will use (train and
    * serve against the SAME quantizer or the residual domains won't
    * match); residuals are computed with the serving path's exact
    * integer kernel, and an empty centroid frame degrades to an empty
    * codebook.
    */
  def trainResidualPqCodebook(corpus: DataFrame, idCol: String, embCol: String,
      centroids: DataFrame, m: Int = 8, ksub: Int = 16, iters: Int = 5,
      trainSize: Int = 4096): DataFrame = {
    require(m > 0, s"m must be positive, got $m")
    require(ksub > 0, s"ksub must be positive, got $ksub")
    require(trainSize >= ksub, s"trainSize ($trainSize) must be >= ksub ($ksub)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = centroids.select(col("cell").cast("long"),
        SimilarityOps.quantize(col("centroid")))
      .as[(Long, Array[Long])].collect()
    if (cents.isEmpty)
      return Seq.empty[(Long, Array[Float])].toDF("cid", "cvec")
    val centsLit = centroidLit(cents.toSeq)
    val residuals = sampleQ(corpus, idCol, embCol, trainSize)
      .select(col("id"),
        V.residual_q(col("q"), centsLit,
          element_at(V.nearest_cells_q(col("q"), centsLit, 1), 1)).as("q"))
    pqKmeans(residuals, m, ksub, iters)
  }

  /** Shared per-subspace Lloyd's loop over a prepared (id, q) sample
    * (raw-vector or residual domain — the caller decides what `q` is).
    */
  private def pqKmeans(sampleDf: DataFrame, m: Int, ksub: Int,
      iters: Int): DataFrame = {
    val spark = sampleDf.sparkSession
    import spark.implicits._
    val sample = sampleDf.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val dimsOpt = sample.select(size(col("q"))).limit(1).as[Int].collect().headOption
      if (dimsOpt.isEmpty)
        return Seq.empty[(Long, Array[Float])].toDF("cid", "cvec")
      val dims = dimsOpt.get
      require(dims >= m, s"vectors have $dims dims but m=$m subspaces")
      val sub = dims / m
      // maximin seeding in the full-width space: each subspace j of a
      // spread full vector inherits spread subvectors — measured to
      // lift trained PQ recall vs the hash-order seed
      val seed = maximinSeed(sample, ksub)
      var cb: Array[(Long, Array[Long])] =
        seed.zipWithIndex.map { case (q, i) => (i.toLong, q) }
      var it = 0
      while (it < iters) {
        val cbLit = typedlit(cb.toSeq.map { case (cid, q) => (cid, q.toSeq) })
        // dim pos belongs to subspace min(pos / sub, m-1) (remainder
        // folds into the last subspace, matching pq_encode); its
        // cluster is that subspace's code
        val update = sample
          .select(V.pq_encode(col("q"), cbLit, m).as("codes"), posexplode(col("q")))
          .select(
            element_at(col("codes"),
              (least(floor(col("pos") / sub), lit(m - 1)).cast("int") + 1))
              .cast("long").as("c"),
            col("pos"), col("col"))
          .groupBy("c", "pos")
          .agg(sum("col").as("s"), count(lit(1)).as("n"))
          .select(col("c"), col("pos"),
            floor(col("s").cast("double") / col("n")).cast("long").as("v"))
          .collect()
        cb = applyUpdate(cb, update)
        it += 1
      }
      cb.toSeq.map { case (cid, q) => (cid, exactFloats(q)) }
        .toDF("cid", "cvec")
    } finally sample.unpersist()
  }

  /** Persist a trained model frame — IVF centroids `(cell, centroid)`,
    * PQ codebook `(cid, cvec)`, classifier weights, any model-state
    * DataFrame — for the train-once / serve-many production split:
    * the training job writes the model, every serving job loads it.
    * Float arrays round-trip bit-exactly through parquet, so serving
    * from a loaded model is IDENTICAL to serving from the in-session
    * frame (pinned by ModelSeamSpec's train → save → load → serve
    * round-trips). Models are model-state-sized (k·d floats — KBs to
    * MBs), so `coalesce(1)` is the right layout: one footer, one file,
    * trivially broadcast at load; a model too big for one file is a
    * sign it shouldn't be a broadcast-side model at all.
    */
  def saveModel(model: DataFrame, path: String): Unit =
    model.coalesce(1).write.mode("overwrite").parquet(path)

  /** Load a model persisted by [[saveModel]]. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(path)
}
