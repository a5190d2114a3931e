package graft.operators

import graft.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (array<float>).
  *
  * Baseline: brute-force cosine top-k (broadcast the query set; one pass over
  * the corpus; per-partition top-k via window). Scale path: signed-random-
  * projection LSH — shuffle on (table, bucket) instead of the cross product,
  * exact re-rank inside buckets only.
  */
object Similarity {
  /** Cosine similarity of two array<float> columns in double precision,
    * strictly left-to-right (deterministic across engines/retries).
    * Codegen'd fused loop — Spark's zip_with/aggregate higher-order
    * functions are CodegenFallback and ~50x slower on this scan. */
  def cosine(a: Column, b: Column): Column = vec_cosine(a, b)

  /** Brute-force exact top-k neighbours for each query vector.
    * Queries are broadcast (small side); corpus streams once. Ties broken by
    * ascending neighbour id for cross-engine determinism. */
  def bruteForceTopK(
      corpus: DataFrame, // (id, vec)
      queries: DataFrame, // (qid, qvec)
      k: Int): DataFrame = {
    val scored = corpus.join(broadcast(queries), col("id") =!= col("qid"))
      .withColumn("sim", cosine(col("vec"), col("qvec")))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "rank", "id", "sim")
  }

  /** Brute-force top-k over int8-QUANTIZED vectors (quantize8): 4× less
    * data scanned/shuffled than float32 at a small recall cost — the memory
    * lever for a 100 TB embedding corpus. Cosine is scale-invariant, so the
    * symmetric per-vector quantization needs no stored scale. */
  def bruteForceTopKQ8(
      corpus: DataFrame, // (id, vec)
      queries: DataFrame, // (qid, qvec)
      k: Int): DataFrame = {
    val c = corpus.select(col("id"), quantize8(col("vec")).as("q8"))
    val q = queries.select(col("qid"), quantize8(col("qvec")).as("qq8"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("id").asc)
    c.join(broadcast(q), col("id") =!= col("qid"))
      .withColumn("sim", vec_cosine_q8(col("q8"), col("qq8")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "rank", "id", "sim")
  }

  /** LSH-bucketed approximate top-k: candidates share at least one SRP
    * bucket with the query across `tables` hash tables; exact cosine re-rank
    * on candidates only. Recall rises with `tables`, cost with bucket size
    * (controlled by `bits`). */
  def lshTopK(
      corpus: DataFrame, // (id, vec)
      queries: DataFrame, // (qid, qvec)
      k: Int,
      tables: Int = 8,
      bits: Int = 10,
      seed: Long = DefaultSeed): DataFrame = {
    val cb = corpus
      .select(col("id"), col("vec"),
        explode(srp_buckets(col("vec"), tables, bits, seed)).as("bucket"))
    val qb = queries
      .select(col("qid"), col("qvec"),
        explode(srp_buckets(col("qvec"), tables, bits, seed)).as("bucket"))
    // dedupe multi-table collisions on the (qid, id) KEY only — a distinct
    // over the vector columns would shuffle the full embeddings as hash
    // keys; first() keeps them as combiner values (any copy is identical)
    val candidates = cb.join(qb, Seq("bucket"))
      .where(col("id") =!= col("qid"))
      .groupBy("qid", "id")
      .agg(first(col("vec")).as("vec"), first(col("qvec")).as("qvec"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("id").asc)
    candidates
      .withColumn("sim", cosine(col("vec"), col("qvec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "rank", "id", "sim")
  }

  /** IVF (inverted-file) approximate top-k — the other standard ANN scale
    * path: a small deterministic centroid set partitions the corpus into
    * cells; each query probes its `nProbe` nearest cells and re-ranks
    * exactly inside them.
    *
    * Scale shape: centroids are the nCentroids smallest-hash corpus rows —
    * a global top-N (TakeOrderedAndProject: per-partition top-N, tiny
    * shuffle, no count() pre-pass) collected to the driver (<= nCentroids
    * vectors). Cell assignment is then one codegen'd per-row sweep against
    * the constant centroid matrix — the corpus is NEVER shuffled or
    * crossJoined for assignment; the probe side is broadcast. The only
    * candidate shuffle is the final per-query top-k (WindowGroupLimit).
    * (A k-means refinement of the centroid seed would slot in without
    * changing the plan.) */
  /** Lloyd k-means refinement of a centroid seed. E-step = the same
    * codegen'd per-row nearest-centroid sweep as assignment (no shuffle);
    * M-step = one aggregation whose OUTPUT is nCentroids × dims rows (tiny,
    * collected to the driver) — per-dim sums flow through map-side partial
    * aggregation, so no iteration ever shuffles vectors. Empty cells keep
    * their previous centroid. Float sums are order-sensitive in low bits,
    * so refined centroids are deterministic only up to ulps — callers
    * gating on byte equality should use iters=0. */
  def refineCentroids(
      corpus: DataFrame, // (id, vec)
      seed: Seq[Seq[Float]],
      iters: Int): Seq[Seq[Float]] = {
    var cents = seed
    for (_ <- 1 to iters) {
      val assigned = corpus.withColumn("cid",
        element_at(nearest_centroids(col("vec"), typedLit(cents), 1), 1))
      val stats = assigned
        .select(col("cid"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg(sum(col("x").cast("double")).as("s"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2) / r.getLong(3)))
        .toMap
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (stats.contains((c, 0)))
          old.indices.map(d => stats((c, d)).toFloat)
        else old // empty cell
      }
    }
    cents
  }

  /** Deterministic centroid seed: the nCentroids smallest-hash corpus rows
    * — a global top-N (TakeOrderedAndProject: per-partition top-N, tiny
    * shuffle, no count() pre-pass). Single definition shared by ivfTopK and
    * IvfIndex.build so the persisted index stays bit-equal to the inline
    * plan (OperatorsSpec asserts the equivalence). */
  private[graft] def pickCentroids(
      corpus: DataFrame, nCentroids: Int): Seq[Seq[Float]] =
    corpus.select(col("vec"), xxhash64(col("id")).as("__h"), col("id"))
      .orderBy(col("__h"), col("id"))
      .limit(nCentroids)
      .select("vec").collect().toSeq
      .map(_.getSeq[Float](0).toSeq)

  /** The one IVF probe kernel — shared by ivfTopK, IvfIndex.topK, the
    * ann_index_append gate and the specs, so a tie-break or NaN-policy
    * change can never silently diverge between the inline and persisted
    * paths. `cells` rows carry (id, vec, cid); `probes` (qid, qvec, cid). */
  private[graft] def probeCells(
      cells: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val wRank = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("id").asc)
    cells.join(broadcast(probes), "cid")
      .where(col("id") =!= col("qid"))
      .withColumn("sim", cosine(col("vec"), col("qvec")))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= k)
      .select("qid", "rank", "id", "sim")
  }

  /** Inline IVF probe against a GIVEN centroid matrix (assignment is the
    * per-row codegen'd sweep; no corpus shuffle). */
  def inlineIvfProbe(
      corpus: DataFrame, // (id, vec)
      queries: DataFrame, // (qid, qvec)
      cents: Seq[Seq[Float]],
      k: Int,
      nProbe: Int): DataFrame = {
    val centsLit = typedLit(cents)
    probeCells(
      corpus.withColumn("cid",
        element_at(nearest_centroids(col("vec"), centsLit, 1), 1)),
      queries.withColumn("cid",
        explode(nearest_centroids(col("qvec"), centsLit, nProbe))),
      k)
  }

  def ivfTopK(
      corpus: DataFrame, // (id, vec)
      queries: DataFrame, // (qid, qvec)
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      kmeansIters: Int = 0): DataFrame =
    inlineIvfProbe(corpus, queries,
      refineCentroids(corpus, pickCentroids(corpus, nCentroids), kmeansIters),
      k, nProbe)

  /** Persisted IVF index — build once, probe many (the posture a 100 TB
    * corpus actually needs: assignment cost is paid at build; a probe
    * touches only its nProbe cells).
    *
    * Layout: `<dir>/data` parquet PARTITIONED BY cell id + a manifest
    * (SketchTable-style) carrying the centroid matrix. A probe computes its
    * nProbe cells driver-side from the manifest centroids (tiny), so the
    * scan arrives with a `cid IN (...)` partition filter — Spark prunes to
    * nProbe/nCentroids of the files before reading a byte. */
  object IvfIndex {
    def build(corpus: DataFrame, dir: String, nCentroids: Int = 32,
        kmeansIters: Int = 0): Unit = {
      val spark = corpus.sparkSession
      val cents = refineCentroids(
        corpus, pickCentroids(corpus, nCentroids), kmeansIters)
      require(cents.nonEmpty, "IVF build over an empty corpus")
      val cells = corpus.withColumn("cid",
        element_at(nearest_centroids(col("vec"), typedLit(cents), 1), 1))
      // centroid matrix as a dedicated tiny parquet sidecar (one row per
      // cell), not a string packed into the manifest — schema'd, typed, and
      // immune to manifest quoting/ordering changes. The sidecar derives
      // from driver memory, the data write from the corpus — two
      // independent jobs into distinct dirs, overlapped (guide §2.6)
      import spark.implicits._
      Dedup.runParallel(
        () => cells.write.mode("overwrite").partitionBy("cid")
          .parquet(s"$dir/data"),
        () => cents.zipWithIndex.map { case (v, c) => (c, v) }
          .toDF("cid", "vec")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids"))
      graft.sources.SketchTable.saveManifestOnly(
        spark, dir,
        Map("kind" -> "ivf", "n_centroids" -> cents.size.toString,
          "dims" -> cents.head.size.toString))
    }

    /** Incremental append — the production shape for a GROWING embedding
      * corpus (the Dedup.buildFingerprintIndex analogue for vectors): new
      * rows are assigned to the EXISTING centroids and their cell
      * partitions appended, so the base corpus is never re-read or
      * re-assigned and a probe over the updated index sees base+appended
      * rows identically to an inline IVF probe with the same centroids
      * (OperatorsSpec asserts the equivalence). Mismatched dims fail
      * loudly BEFORE any write (the taxor_search.cpp:97-151 posture).
      *
      * Returns the centroid-drift signal: the fraction of appended vectors
      * whose nearest-centroid cosine falls below `driftSimFloor` — a
      * growing fraction means the frozen centroid layout no longer covers
      * the data distribution and a rebuild (or k-means refresh) is due.
      * The fraction is also recorded in the manifest (`last_drift_x1m`,
      * with `appends` bumped) so operators can watch it without rerunning. */
    def append(newVecs: DataFrame, // (id, vec)
        dir: String,
        driftSimFloor: Double = 0.5): Double = {
      val spark = newVecs.sparkSession
      val manifest = graft.sources.SketchTable.readManifest(spark, dir)
      graft.sources.SketchTable.requireParams(
        manifest, Map("kind" -> "ivf"), dir)
      val p = graft.sources.SketchTable.params(manifest)
      val cents = loadCentroids(spark, dir)
      val dims = cents.head.size
      val centsLit = typedLit(cents)
      // one pass: dims/null guard + assignment + best-centroid similarity
      // for the drift stat (the guard was a separate pre-scan before r6).
      // Null vectors must fail too: size(null) is NULL so a plain =!=
      // predicate silently drops them, and they would land in a junk
      // null-cid partition no probe ever reads. CASE short-circuits per
      // row, so a flagged row never reaches the centroid kernel, and the
      // require below still fires BEFORE any write.
      val flagged = newVecs
        .withColumn("__bad",
          col("vec").isNull || size(col("vec")) =!= dims)
        .withColumn("cid",
          when(!col("__bad"),
            element_at(nearest_centroids(col("vec"), centsLit, 1), 1)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val drift = try {
        // coalesce: sum over an empty batch is NULL
        val stats = flagged
          .select(col("__bad"), when(!col("__bad"),
            cosine(col("vec"), element_at(centsLit, col("cid") + 1))).as("sim"))
          .agg(count(lit(1)).as("n"),
            coalesce(sum(when(col("__bad"), 1L).otherwise(0L)), lit(0L))
              .as("bad"),
            coalesce(sum(when(!col("__bad") && col("sim") < driftSimFloor, 1L)
              .otherwise(0L)), lit(0L)).as("low"))
          .first()
        require(stats.getLong(1) == 0L,
          s"IVF append at $dir: null vectors or dims disagreeing with the " +
            s"index ($dims) — appending them would corrupt cell assignment")
        flagged.drop("__bad")
          .write.mode("append").partitionBy("cid").parquet(s"$dir/data")
        if (stats.getLong(0) == 0L) 0.0
        else stats.getLong(2).toDouble / stats.getLong(0)
      } finally flagged.unpersist()
      graft.sources.SketchTable.saveManifestOnly(spark, dir,
        p ++ Map(
          "appends" -> (p.getOrElse("appends", "0").toLong + 1).toString,
          "last_drift_x1m" -> math.round(drift * 1e6).toString))
      drift
    }

    /** Compact an appended IVF index in place: every append leaves one
      * file per touched cell, so after N appends a probe of one cell opens
      * N small files. The rewrite shuffles `data/` once on cid and rewrites
      * each cell as a single file; rows, cells, and the partition-pruned
      * probe path are untouched (driver-gated: `ann_index_compaction`).
      * Centroids/manifest params are preserved; `compactions` is bumped.
      * Swap is delete-then-rename ([[graft.sources.SketchTable.replaceDir]]
      * caveat applies — the index is a rebuildable derived artifact). */
    def compact(spark: org.apache.spark.sql.SparkSession,
        dir: String): Unit = {
      val manifest = graft.sources.SketchTable.readManifest(spark, dir)
      graft.sources.SketchTable.requireParams(
        manifest, Map("kind" -> "ivf"), dir)
      val p = graft.sources.SketchTable.params(manifest)
      val tmp = s"$dir/data_compact_tmp"
      spark.read.parquet(s"$dir/data")
        .repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(tmp)
      graft.sources.SketchTable.replaceDir(spark, tmp, s"$dir/data")
      graft.sources.SketchTable.saveManifestOnly(spark, dir,
        p + ("compactions" ->
          (p.getOrElse("compactions", "0").toLong + 1).toString))
    }

    def loadCentroids(
        spark: org.apache.spark.sql.SparkSession,
        dir: String): Seq[Seq[Float]] = {
      val manifest = graft.sources.SketchTable.readManifest(spark, dir)
      graft.sources.SketchTable.requireParams(
        manifest, Map("kind" -> "ivf"), dir)
      val p = graft.sources.SketchTable.params(manifest)
      val n = p.getOrElse("n_centroids",
        sys.error(s"no n_centroids in manifest at $dir")).toInt
      val dims = p.getOrElse("dims",
        sys.error(s"no dims in manifest at $dir")).toInt
      val rows = spark.read.parquet(s"$dir/centroids")
        .orderBy("cid").collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toSeq))
      require(rows.length == n && rows.map(_._1).toSeq == (0 until n),
        s"IVF index at $dir: centroid sidecar has ${rows.length} rows, " +
          s"manifest says $n")
      require(rows.forall(_._2.size == dims),
        s"IVF index at $dir: centroid dims disagree with manifest ($dims)")
      rows.map(_._2).toSeq
    }

    def topK(
        spark: org.apache.spark.sql.SparkSession,
        dir: String,
        queries: DataFrame, // (qid, qvec)
        k: Int,
        nProbe: Int = 4): DataFrame = {
      val cents = loadCentroids(spark, dir)
      require(nProbe >= 1 && nProbe <= cents.size,
        s"nProbe=$nProbe out of range for ${cents.size} centroids")
      val centsLit = typedLit(cents)
      val probes = queries.withColumn("cid",
        explode(nearest_centroids(col("qvec"), centsLit, nProbe)))
      // the probed cell set is bounded by nCentroids — driver-computing it
      // turns the scan filter into a static partition-pruning predicate
      val cids = probes.select("cid").distinct().collect().map(_.getInt(0))
      val cells = spark.read.parquet(s"$dir/data")
        .where(col("cid").isin(cids.toSeq: _*))
      probeCells(cells, probes, k)
    }
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * embedding-cluster blocking + within-cluster exact cosine + keep-one
    * canonicalization — a pure composition of the engine's existing
    * pieces. The IVF cell assignment (codegen'd nearest-centroid sweep —
    * the corpus never shuffles for it) is the blocking stage; candidate
    * pairs are generated ONLY within a cell (self-join keyed on the int
    * cell id, vectors ride as payloads); pairs at/above `threshold` become
    * edges and every connected component canonicalizes to its minimum id
    * (Dedup.connectedMinLabels — (long,long) rows only).
    *
    * Scale shape: pair generation is quadratic per CELL, not per corpus —
    * nCentroids bounds the expected cell population to corpus/nCentroids,
    * the SemDeDup paper's own contract (they run 50k clusters at 5B docs).
    * A skewed cell degrades gracefully (one reducer's quadratic work) and
    * is observable in the Spark UI; raise nCentroids (or add k-means
    * iters) rather than salting — splitting a cell never creates pairs.
    *
    * Blocking can only MISS pairs whose members fall in different cells
    * (near Voronoi boundaries) — it never invents pairs (cosine verifies
    * exactly), so non-canonical ⇒ a true >= threshold duplicate. The
    * `semdedup_embeddings` gate checks that subset direction as a hard
    * boolean and the boundary-miss rate as a measured recall floor against
    * the exact all-pairs path on planted duplicates.
    *
    * Output: (id, canonical_id, is_canonical) — same contract as
    * Dedup.nearDupCanonical, so curation chains can swap text MinHash for
    * embedding semantics without touching downstream stages. */
  def semDedup(
      corpus: DataFrame, // (id, vec)
      threshold: Double,
      nCentroids: Int = 16,
      kmeansIters: Int = 0,
      maxIters: Int = 10): DataFrame =
    semDedupWithCentroids(corpus, threshold,
      refineCentroids(corpus, pickCentroids(corpus, nCentroids), kmeansIters),
      maxIters)

  /** [[semDedup]] against a GIVEN centroid matrix — the production shape
    * when a persisted IVF index already exists for the corpus (reuse its
    * centroids so dedup cells and search cells agree), and the
    * deterministic shape for gates. Note a blocking subtlety the auto
    * variant inherits from hash-picked centroids: in a duplicate-rich
    * corpus two near-identical rows can BOTH be picked as centroids, and
    * their duplicate set then splits between two near-identical cells on
    * float-rounding ties — a boundary miss, not a false merge. Supplying
    * separated centroids (e.g. k-means-refined or index centroids)
    * removes that failure mode. */
  def semDedupWithCentroids(
      corpus: DataFrame, // (id, vec)
      threshold: Double,
      cents: Seq[Seq[Float]],
      maxIters: Int = 10): DataFrame = {
    val cells = corpus.withColumn("cid",
      element_at(nearest_centroids(col("vec"), typedLit(cents), 1), 1))
    // self-join recomputes both sides' lineage (documented engine-wide
    // convention — callers cache upstream if it matters)
    val pairs = cells.as("a").join(cells.as("b"),
        col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .withColumn("sim", cosine(col("a.vec"), col("b.vec")))
      .where(col("sim") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // labels stay cached (connectedMinLabels' contract — the result plan
    // references the propagation fixpoint; same posture as
    // Dedup.nearDupCanonical: LRU-evictable, lineage-recomputable)
    val labels = Dedup.connectedMinLabels(pairs, maxIters)
    corpus.select(col("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("label"), col("id")).as("canonical_id"),
        (coalesce(col("label"), col("id")) === col("id")).as("is_canonical"))
  }

  /** Cluster-balanced (diversity) sampling: assign every vector to its
    * nearest centroid cell, then keep a deterministic [[Sampling.bottomK]]
    * of `k` rows per cell. A uniform sample of a web-scale corpus
    * reproduces its cluster imbalance — the dominant modes (boilerplate
    * news, SEO spam) swamp the tails; capping per semantic cell is the
    * standard rebalancing step (the sampling cousin of SemDeDup's
    * cluster-then-prune, Abbas et al. 2023). Pass the SAME centroid matrix
    * the corpus's IVF index froze ([[IvfIndex.loadCentroids]]) so sampling
    * cells and search cells agree.
    *
    * Determinism splits by layer, and the gate mirrors that: the cell
    * assignment is float math (deterministic for a FROZEN centroid matrix
    * — same kernel the ANN gates cover), while the per-cell cap is the
    * engine-portable md5 bottom-k, byte-exact vs the oracle GIVEN the
    * assignment (the `sample_cluster_balanced` gate dumps the assignment
    * and the oracle re-derives the cap from it byte-identically).
    *
    * Scale shape: one scan for the codegen'd centroid sweep (centroids
    * broadcast as a literal/typedLit matrix, embeddings never shuffle as
    * keys) + bottomK's single stratum-key shuffle with WindowGroupLimit
    * pruning — at most k·partitions rows per cell cross the wire.
    *
    * Output: (id, cell, rk) with rk in [1, k] — vectors are dropped so the
    * sample result is safe to `.distinct()`/persist; re-join on id when
    * the vectors are needed downstream. */
  def clusterBalancedSample(
      corpus: DataFrame, // (id, vec)
      nCentroids: Int,
      k: Int): DataFrame =
    clusterBalancedSample(corpus, pickCentroids(corpus, nCentroids), k)

  /** [[clusterBalancedSample]] against a GIVEN (frozen) centroid matrix —
    * the production shape when the corpus's IVF index already exists, and
    * the deterministic shape for gates. */
  def clusterBalancedSample(
      corpus: DataFrame, // (id, vec)
      cents: Seq[Seq[Float]],
      k: Int,
      seed: String = "graft"): DataFrame = {
    require(cents.nonEmpty, "empty centroid matrix")
    val cells = corpus.withColumn("cell",
      element_at(nearest_centroids(col("vec"), typedLit(cents), 1), 1))
    Sampling.bottomK(cells, Seq("cell"), "id", k, seed)
      .select(col("id"), col("cell"), col("rk"))
  }

  /** Embedding near-duplicate pairs above a cosine threshold, via LSH
    * candidate generation + exact verification (the embedding analogue of
    * Dedup.minhashLshPairs). */
  def cosineNearDupPairs(
      corpus: DataFrame, // (id, vec)
      threshold: Double,
      tables: Int = 12,
      bits: Int = 8,
      seed: Long = DefaultSeed): DataFrame = {
    val cb = corpus.select(col("id"), col("vec"),
      explode(srp_buckets(col("vec"), tables, bits, seed)).as("bucket"))
    // dedupe on the id PAIR only (see lshTopK): vectors travel as combiner
    // values, never as distinct/hash keys
    cb.as("a").join(cb.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(first(col("a.vec")).as("vec_a"), first(col("b.vec")).as("vec_b"))
      .withColumn("sim", cosine(col("vec_a"), col("vec_b")))
      .where(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** Cross-corpus semantic contamination scan — the embedding-space twin
    * of the n-gram decontamination in [[Dedup]]: for every train row,
    * count eval rows within cosine >= tau (0 = clean). Eval benchmarks
    * are small by construction, so the scale shape is a broadcast
    * nested-loop with the codegen'd cosine kernel: the train side never
    * shuffles its embeddings, eval rides once per executor, and the cost
    * is train_rows × |eval| row-local work — one map-side pass at 100 TB.
    * For an eval side too large to broadcast, use
    * [[semanticContaminationLsh]] (banded candidates, exact-verified). */
  def semanticContamination(
      train: DataFrame, // (id, vec)
      eval: DataFrame,  // (id, vec)
      tau: Double): DataFrame = {
    val ev = eval.select(col("id").as("eval_id"), col("vec").as("evec"))
    val hits = train.as("t")
      .join(broadcast(ev), cosine(col("t.vec"), col("evec")) >= tau)
      .groupBy(col("t.id").as("id"))
      .agg(count(lit(1)).as("n_matches"))
    train.select(col("id")).join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        (coalesce(col("n_matches"), lit(0L)) > 0).as("contaminated"))
  }

  /** Banded-SRP contamination path for a large eval side. Identical
    * vectors produce identical signatures (a pure function of the
    * vector), so planted EXACT leaks collide in every band and are
    * caught with probability 1; near-duplicates carry the usual
    * band-miss probability. Candidates are exact-verified, so precision
    * is 1 by construction. Embeddings travel as combiner values, never
    * as shuffle keys (the lshTopK discipline). */
  def semanticContaminationLsh(
      train: DataFrame, // (id, vec)
      eval: DataFrame,  // (id, vec)
      tau: Double,
      tables: Int = 12,
      bits: Int = 8,
      seed: Long = DefaultSeed): DataFrame = {
    val tb = train.select(col("id"), col("vec"),
      explode(srp_buckets(col("vec"), tables, bits, seed)).as("bucket"))
    val eb = eval.select(col("id").as("eval_id"), col("vec").as("evec"),
      explode(srp_buckets(col("vec"), tables, bits, seed)).as("bucket"))
    tb.join(eb, "bucket")
      .groupBy(col("id"), col("eval_id"))
      .agg(first(col("vec")).as("vec"), first(col("evec")).as("evec"))
      .withColumn("sim", cosine(col("vec"), col("evec")))
      .where(col("sim") >= tau)
      .select(col("id"), col("eval_id"), col("sim"))
  }
}
