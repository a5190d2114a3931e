package graft.operators

import graft.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators.
  *
  * All variants follow the same scale posture: per-document work (shingle,
  * signature) is a codegen'd expression; candidate generation shuffles on a
  * short key (content hash / LSH band / simhash band), never on raw text; and
  * exact verification runs only on candidate pairs. At 100 TB the band
  * shuffle is O(docs · bands), independent of document length.
  */
object Dedup {
  /** Run independent Spark jobs from a small driver thread pool so a later
    * job's tasks back-fill the cores a prior job's tail leaves idle (guide
    * §2.6 overlap-independent-jobs; actions are only sequential because the
    * driver calls them sequentially). First failure is rethrown after all
    * threads finish. Used for independent table WRITES within one index
    * mutation — each task must touch a distinct output directory. */
  private[graft] def runParallel(tasks: (() => Unit)*): Unit =
    runParallel(tasks.size, tasks)

  /** As above, with at most `maxInFlight` tasks running at a time; a task
    * that has not started when one fails never starts. Threads are created
    * here, per task, so they inherit the caller's Spark local properties
    * (job group, description). */
  private[graft] def runParallel(
      maxInFlight: Int, tasks: Seq[() => Unit]): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val slots = new java.util.concurrent.Semaphore(math.max(1, maxInFlight))
    val threads = tasks.iterator
      .takeWhile { _ => slots.acquire(); errs.isEmpty }
      .map { t =>
        val th = new Thread(() =>
          try t() catch { case e: Throwable => errs.add(e) }
          finally slots.release())
        th.start(); th
      }.toList
    threads.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  /** Exact duplicate grouping by full-content hash: every doc keeps the id
    * of its canonical (minimum-id) copy. One shuffle on the 128-bit hash. */
  def exactCanonical(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = df.select(col(idCol), md5(col(textCol)).as("__h"))
    val canon = hashed.groupBy("__h").agg(min(col(idCol)).as("canonical_id"))
    hashed.join(canon, "__h")
      .select(col(idCol), col("canonical_id"),
        (col(idCol) === col("canonical_id")).as("is_canonical"))
  }

  /** MinHash + LSH banding candidate pairs, exact-Jaccard verified.
    *
    * shingle → minhash signature (numBands·rowsPerBand perms) → explode
    * bands → shuffle on (band_idx, band_hash) → same-bucket pairs →
    * verify with exact Jaccard over the shingle sets of the candidates only.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 8,
      numBands: Int = 16,
      rowsPerBand: Int = 8,
      threshold: Double = 0.8,
      seed: Long = DefaultSeed): DataFrame = {
    val numPerms = numBands * rowsPerBand
    val withSig = df.select(
      col(idCol).as("id"),
      shingles(col(textCol), shingleK, seed = seed).as("sh"))
      .where(size(col("sh")) > 0)
      .withColumn("sig", minhash(col("sh"), numPerms, seed))
    // band hash: xxhash64 over the slice of the signature
    val bands = withSig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(numBands - 1)),
        b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
        .as(Seq("band_idx", "band_hash")))
    val candidates = bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val sets = withSig.select(col("id"), col("sh"))
    candidates
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"),
        "id_a")
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"),
        "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Connected-component minimum labels over an undirected pair graph
    * (id_a, id_b): every vertex gets the smallest id reachable from it.
    * Min-label propagation — label(v) ← min(label(v), min neighbor label)
    * — converges in O(component diameter) joins; each iteration shuffles
    * only (long, long) rows, never document payloads. Near-dup components
    * are cliques/stars in practice (diameter 1-2); a component with
    * diameter > maxIters is NOT fully resolved — that truncation is
    * reported loudly on stderr rather than returned silently.
    *
    * The returned labels stay cached (the loop's last materialization);
    * callers issuing many invocations per session should unpersist the
    * result after consuming it. */
  def connectedMinLabels(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // both edge directions in ONE pass over the (expensive) pairs plan —
    // a union of two selects would re-run candidate verification twice
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .cache()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).cache()
    var iter = 0
    var changed = 1L
    while (iter < maxIters && changed > 0) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src").as("id")).agg(min("nl").as("nbr_min"))
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_min"), col("label")))
            .as("label"))
        .cache()
      // this action materializes next's cache BEFORE labels is dropped
      changed = next
        .join(labels.select(col("id"), col("label").as("old")), "id")
        .where(col("label") =!= col("old")).count()
      labels.unpersist()
      labels = next
      iter += 1
    }
    if (changed > 0)
      System.err.println(s"[graft] connectedMinLabels: $changed labels " +
        s"still moving after $maxIters iterations — a component has " +
        "diameter > maxIters; labels are a PARTIAL propagation")
    edges.unpersist()
    labels
  }

  /** Near-duplicate canonicalization — the "keep one copy per cluster" step
    * a dedup pipeline actually ends with: MinHash-LSH candidate pairs →
    * connected components → every doc maps to its component's minimum id.
    * Docs with no near-dup pair are their own canonical. */
  def nearDupCanonical(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 8,
      numBands: Int = 16,
      rowsPerBand: Int = 8,
      threshold: Double = 0.8,
      seed: Long = DefaultSeed,
      maxIters: Int = 10): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, shingleK, numBands,
      rowsPerBand, threshold, seed).select("id_a", "id_b")
    val labels = connectedMinLabels(pairs, maxIters)
    df.select(col(idCol))
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("label"), col(idCol)).as("canonical_id"),
        (coalesce(col("label"), col(idCol)) === col(idCol)).as("is_canonical"))
  }

  /** Substring-level (span) dedup — training pipelines dedup repeated SPANS
    * (boilerplate headers, license blocks, quoted replies), not just whole
    * documents: chunk each document into `size`-char windows every
    * `size - overlap` chars (TextStats.chunk) and canonicalize identical
    * chunks corpus-wide by content hash. Same scale shape as
    * exactCanonical: one shuffle on the 128-bit chunk hash, chunk text never
    * shuffles. Canonical = lexicographic minimum (doc_id, chunk_idx) among
    * identical chunks (deterministic).
    *
    * Output: (idCol, chunk_idx, canonical_doc_id, canonical_chunk_idx,
    * is_canonical) — one row per chunk. */
  def spanDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      size: Int,
      overlap: Int = 0): DataFrame = {
    val chunks = TextStats.chunk(df, idCol, textCol, size, overlap)
    val hashed = chunks.select(col(idCol), col("chunk_idx"),
      md5(col("chunk")).as("__h"))
    val canon = hashed.groupBy("__h")
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("__c"))
    hashed.join(canon, "__h")
      .select(col(idCol), col("chunk_idx"),
        col("__c").getField(idCol).as("canonical_doc_id"),
        col("__c.chunk_idx").as("canonical_chunk_idx"),
        (col(idCol) === col("__c").getField(idCol) &&
          col("chunk_idx") === col("__c.chunk_idx")).as("is_canonical"))
  }

  /** Winnowed-fingerprint shared-span detection (MOSS-style winnowing):
    * finds document pairs sharing an identical span at ARBITRARY byte
    * offsets — the case fixed-boundary chunk dedup (`spanDedup`) misses when
    * boilerplate is shifted by edits above it. Each document is reduced to
    * its winnowed fingerprint set (the minimizer scheme: min k-gram hash per
    * window of `w` consecutive k-grams — TextOps.minimizerHashes), and pairs
    * sharing >= `minShared` fingerprints are reported with the shared count.
    *
    * Deterministic guarantee (the winnowing theorem, Schleimer–Wilkerson–
    * Aiken 2003): two documents sharing an identical substring of length
    * >= w + k - 1 select the same minimum inside any k-gram window lying
    * fully within the shared span, so with minShared = 1 every such pair IS
    * detected — recall over long shared spans is 1 by construction, not a
    * probability. (False positives need `minShared` distinct hash
    * collisions/common short k-grams; raise minShared to tighten.)
    *
    * Scale shape: same inverted-index posture as exactJaccardPairs, but over
    * the ~1/w-density winnowed set instead of every k-gram — the join input
    * is w× smaller and only (id, fingerprint) longs shuffle. `maxFingerprintDf`
    * caps quadratic blowup on boilerplate fingerprints appearing in more than
    * that many docs (dropping a fingerprint weakens the guarantee only for
    * spans whose EVERY window minimum is that hot — i.e. corpus-wide
    * boilerplate, exactly what a dedup pass wants to treat separately). */
  def winnowedSpanPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 8,
      window: Int = 16,
      minShared: Long = 1L,
      seed: Long = DefaultSeed,
      maxFingerprintDf: Option[Long] = None): DataFrame = {
    val fp0 = df.select(col(idCol).as("id"),
      explode(minimizers(col(textCol), shingleK, window, seed)).as("fp"))
    val fp = maxFingerprintDf match {
      case Some(cap) =>
        val hot = fp0.groupBy("fp").agg(count(lit(1)).as("__df"))
          .where(col("__df") > cap).select("fp")
        fp0.join(hot, Seq("fp"), "left_anti")
      case None => fp0
    }
    fp.as("a").join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared_fingerprints"))
      .where(col("shared_fingerprints") >= minShared)
  }

  /** Eval-set decontamination — the cross-corpus twin of winnowedSpanPairs:
    * find (training doc, held-out doc) pairs sharing an identical span of
    * >= window + shingleK - 1 bytes, so contaminated training examples can
    * be dropped before an eval set leaks into the mixture. Same winnowing
    * guarantee (recall 1 over such spans), same scale shape: both corpora
    * reduce to ~1/window-density fingerprint sets and only (id, long) rows
    * shuffle; at 100 TB train × small eval the join is effectively a
    * semi-join against the (tiny) held-out fingerprint side.
    *
    * Output: (train_id, heldout_id, shared_fingerprints). */
  def crossSpanContamination(
      train: DataFrame,
      trainIdCol: String,
      heldout: DataFrame,
      heldoutIdCol: String,
      textCol: String,
      shingleK: Int = 8,
      window: Int = 16,
      minShared: Long = 1L,
      seed: Long = DefaultSeed,
      maxFingerprintDf: Option[Long] = None): DataFrame = {
    def fps(df: DataFrame, idCol: String, as: String) =
      df.select(col(idCol).as(as),
        explode(minimizers(col(textCol), shingleK, window, seed)).as("fp"))
    val tf0 = fps(train, trainIdCol, "train_id")
    val tf = maxFingerprintDf match {
      case Some(cap) =>
        // the cap is train-side document frequency (boilerplate lives in
        // the big corpus); held-out fingerprints are never dropped
        val hot = tf0.groupBy("fp").agg(count(lit(1)).as("__df"))
          .where(col("__df") > cap).select("fp")
        tf0.join(hot, Seq("fp"), "left_anti")
      case None => tf0
    }
    tf.join(fps(heldout, heldoutIdCol, "heldout_id"), "fp")
      .groupBy("train_id", "heldout_id")
      .agg(count(lit(1)).as("shared_fingerprints"))
      .where(col("shared_fingerprints") >= minShared)
  }

  /** Banded Hamming self-join over any 64-bit signature column — the ONE
    * candidate-generation kernel behind SimHash text near-dup AND dHash
    * image near-dup: split each signature into `maxHamming + 1` contiguous
    * chunks (widths 64/(h+1), off-by-one balanced), shuffle once on
    * (chunk_idx, chunk_value), verify candidates with an exact popcount.
    * Pigeonhole recall guarantee: a pair differing in ≤ maxHamming bits
    * cannot differ in all h+1 chunks, so EVERY pair within the radius is
    * found — at any radius 0..63, with the band count (and therefore the
    * shuffle width and candidate volume) growing only linearly in it.
    *
    * Scale shape: the only shuffle key is the (chunk_idx, chunk_value)
    * pair of 8-byte scalars; no all-pairs anywhere; candidate volume is
    * governed by bucket collision rates, not corpus².
    *
    * Input: (idCol, sigCol BIGINT). Output: (id_a, id_b, hamming INT),
    * id_a < id_b. */
  def hamming64Pairs(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63], got $maxHamming")
    val nBands = maxHamming + 1
    val bounds = (0 to nBands).map(i => i * 64 / nBands)
    val bandCols = (0 until nBands).map { b =>
      val lo = bounds(b)
      val width = bounds(b + 1) - lo
      val mask = if (width == 64) -1L else (1L << width) - 1
      shiftrightunsigned(col("sig"), lo).bitwiseAND(lit(mask))
    }
    val bands = sigs
      .select(col(idCol).as("id"), col(sigCol).as("sig"))
      .select(col("id"), col("sig"),
        posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_val")))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct() // a close pair matches in several bands — count it once
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** SimHash near-dup pairs: 64-bit simhash over the shingle set, then the
    * shared [[hamming64Pairs]] banded join (at the default radius 3 the
    * chunks are the classic 4 × 16-bit banding). */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 8,
      maxHamming: Int = 3,
      seed: Long = DefaultSeed): DataFrame =
    hamming64Pairs(
      df.select(col(idCol).as("id"),
        simhash(shingles(col(textCol), shingleK, seed = seed)).as("sig")),
      "id", "sig", maxHamming)

  /** Exact n-gram Jaccard over ALL pairs (quadratic; the small-scale oracle
    * the approximate paths are judged against — and itself a useful operator
    * at moderate group sizes after blocking). Implemented with an inverted
    * shingle→doc join so only co-occurring pairs materialize.
    *
    * `maxShingleDf`: skew guard for scale — a shingle appearing in more than
    * this many documents (a stopword n-gram) would blow up one join key
    * quadratically; capping drops it from EVERY document's shingle set
    * before per-doc sizes are counted, so the result is the EXACT Jaccard
    * over the capped shingle universe (a documented approximation of the
    * uncapped Jaccard — high-DF shingles carry no near-dup signal anyway).
    * None (the default, used by the byte-equality gates) disables it. */
  def exactJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 8,
      threshold: Double = 0.5,
      seed: Long = DefaultSeed,
      maxShingleDf: Option[Long] = None): DataFrame = {
    val sh0 = df.select(col(idCol).as("id"),
      explode(shingles(col(textCol), shingleK, seed = seed)).as("h"))
    val sh = maxShingleDf match {
      case Some(cap) =>
        val hot = sh0.groupBy("h").agg(count(lit(1)).as("__df"))
          .where(col("__df") > cap).select("h")
        sh0.join(hot, Seq("h"), "left_anti")
      case None => sh0
    }
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(counts.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"),
        "id_a")
      .join(counts.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"),
        "id_b")
      .withColumn("jaccard",
        col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ---- incremental dedup against a persisted fingerprint index ------------

  /** Engine-portable scaled k-gram fingerprints: (id, gh) where
    * gh = md5("<seed>:<kgram>") hex and a k-gram survives iff gh's first
    * two hex chars order below `scaleHex` — the FracMinHash scaling filter
    * (reference taxor_build.cpp:335-340, S6/F1: keep the fraction of hash
    * space below a threshold) re-expressed over the md5 portability trick,
    * so any SQL engine reproduces the subset (and therefore the scaled
    * Jaccard) byte-exact. One hash serves as both the scale filter and the
    * join key. The xxhash-based `shingles(...)` tokenizer is the faster
    * in-engine twin; this variant is for artifacts other engines must
    * re-derive. */
  private[graft] def scaledFingerprints(
      df: DataFrame, idCol: String, textCol: String, k: Int,
      scaleHex: String, seed: String): DataFrame =
    // r6: ONE codegen'd kernel (graft_scaled_ghs) replaces the
    // explode(transform(sequence))/md5/substring-threshold/distinct chain —
    // the higher-order functions were CodegenFallback and cost 10-15 CPU-s
    // per corpus pass (guide §1.2 per-task work; VecCosine precedent). The
    // kernel emits each document's DISTINCT kept fingerprints, which equals
    // the old global (id, gh) distinct under the index family's one-row-
    // per-document-id contract (append's idempotence guard already
    // anti-joins on id, so a duplicate-id input was never supported).
    // Values are identical by construction: character substrings, lowercase
    // md5 hex, strict first-byte < parseInt(scaleHex, 16) — the numeric
    // twin of the two-hex-char lexicographic compare.
    df.select(col(idCol).cast("long").as("id"),
      explode(graft.GraftFunctions.scaled_ghs(col(textCol), k, scaleHex,
        seed)).as("gh"))

  /** Persist a dedup fingerprint index for a corpus:
    *   dir/exact/    (content_hash, canonical_id) — one row per distinct text
    *   dir/shingles/ (id, gh)                     — scaled k-gram md5 hexes
    * plus a versioned manifest (kind/k/scale_hex/seed) that probes validate.
    *
    * This is the INCREMENTAL half of exactCanonical/minhashLshPairs: a
    * 100 TB corpus is deduplicated once, and every new batch then dedups
    * against these tables without re-reading (or re-shingling) old text —
    * the index is ~scale_hex/256 of the corpus shingle volume. */
  /** @param maxDf drop fingerprints shared by more than this many indexed
    *   docs (written to `dir/hot` so probes apply the same universe). A
    *   fingerprint in hundreds of docs is corpus boilerplate: it carries no
    *   near-dup signal but dominates the probe join quadratically (df² pair
    *   rows — measured 99% of join work above df 64 on a repetitive
    *   corpus). Jaccard becomes exact-over-the-capped-universe, same
    *   posture as `exactJaccardPairs(maxShingleDf)`. */
  def buildFingerprintIndex(
      df: DataFrame, idCol: String, textCol: String, dir: String,
      k: Int = 8, scaleHex: String = "40", seed: String = "graft",
      maxDf: Option[Long] = None): Unit = {
    require(scaleHex.length == 2 &&
      scaleHex.forall(c => c.isDigit || ('a' to 'f').contains(c)),
      s"scaleHex must be two lowercase hex chars, got '$scaleHex'")
    val spark = df.sparkSession
    // cached between the hot pass and the capped write — both consume the
    // same explode+md5 scan; unpersisted before return (build-local state)
    val sc = scaledFingerprints(df, idCol, textCol, k, scaleHex, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the exact/ table and the hot→shingles chain touch DISTINCT output
    // dirs and share no intermediate state — overlap them (r6, guide §2.6)
    runParallel(
      () =>
        df.select(md5(col(textCol)).as("content_hash"),
            col(idCol).cast("long").as("id"))
          .groupBy("content_hash").agg(min(col("id")).as("canonical_id"))
          .write.mode("overwrite").parquet(s"$dir/exact"),
      () => {
        val hot = maxDf match {
          case Some(cap) =>
            sc.groupBy("gh").agg(count(lit(1)).as("__df"))
              .where(col("__df") > cap).select("gh")
          case None => sc.select("gh").limit(0)
        }
        hot.write.mode("overwrite").parquet(s"$dir/hot")
        // anti-join against the in-plan hot DF, not a re-read of the file
        // just written: same rows by construction (hot is derived from the
        // CACHED sc and was fully written above), one less scan stage (r6)
        sc.join(hot, Seq("gh"), "left_anti")
          .select("id", "gh")
          .write.mode("overwrite").parquet(s"$dir/shingles")
      })
    sc.unpersist()
    graft.sources.SketchTable.saveManifestOnly(spark, dir,
      Map("kind" -> "fingerprint", "k" -> k.toString,
        "scale_hex" -> scaleHex, "seed" -> seed,
        "max_df" -> maxDf.map(_.toString).getOrElse("none")))
  }

  /** Incremental fingerprint-index GROWTH — the dedup twin of
    * [[Similarity.IvfIndex.append]]: fold a new batch INTO the persisted
    * index without RE-SHINGLING or re-hashing the old corpus — the
    * expensive per-byte work stays proportional to the batch. The
    * idempotence guards do still SCAN the persisted index columns (one
    * anti-join over `exact/` content hashes, one over distinct `shingles/`
    * ids — cheap column scans, but linear in index size), so the
    * standard production loop (probe with `dedupAgainstIndex`, keep
    * survivors, append them) avoids quadratic re-shingling, not all
    * index-size-proportional IO; schedule full rebuilds on the same
    * cadence as the hot-list refresh if that scan ever dominates.
    *
    * Semantics, stated not hidden:
    *  - `exact/`: only content hashes the index has NOT seen are appended
    *    — the first-arrived id stays canonical (arrival-order
    *    canonicalization; identical to exactCanonical's min-id rule when
    *    ids are assigned monotonically, as ingest pipelines do);
    *  - `shingles/`: the new docs' scaled fingerprints, minus the
    *    PERSISTED hot list — the capped universe is frozen at build time
    *    (df is not recomputed over the union, the same posture as the
    *    probe); schedule a full rebuild to refresh it;
    *  - IDEMPOTENT per doc: both tables are guarded with anti-joins
    *    (exact/ by content hash, shingles/ by doc id), so a retried
    *    append after a partial failure cannot duplicate fingerprint rows
    *    (duplicated rows would silently inflate every later Jaccard
    *    against those docs);
    *  - manifest: `appends` counter bumped, params unchanged, so probes
    *    validate exactly as before. */
  def appendToFingerprintIndex(
      newDocs: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    val spark = newDocs.sparkSession
    val manifest = graft.sources.SketchTable.readManifest(spark, dir)
    graft.sources.SketchTable.requireParams(manifest,
      Map("kind" -> "fingerprint"), dir)
    val p = graft.sources.SketchTable.params(manifest)
    // persisted for the two consumers (content-hash pass + shingle pass)
    // — the batch usually arrives with an expensive probe/filter lineage,
    // and a nondeterministic source would otherwise yield inconsistent
    // exact-vs-shingle views; same posture as buildFingerprintIndex's
    // shared-scan cache. Unpersisted before return (append-local state).
    val docs = newDocs
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // both append jobs anti-join against the very parquet path they then
    // append to — materialize the fully-guarded rows FIRST (persist + an
    // action) so the write job consumes the cached blocks and never
    // re-lists the directory it is concurrently growing (LocalFS snapshots
    // the listing at read time; object stores may not)
    val newExact = docs
      .select(md5(col(textCol)).as("content_hash"),
        col(idCol).cast("long").as("id"))
      .groupBy("content_hash").agg(min(col("id")).as("canonical_id"))
      .join(spark.read.parquet(s"$dir/exact").select("content_hash"),
        Seq("content_hash"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newShingles = scaledFingerprints(docs, idCol, textCol, p("k").toInt,
        p("scale_hex"), p("seed"))
      .join(spark.read.parquet(s"$dir/hot"), Seq("gh"), "left_anti")
      // idempotence guard (mirrors the exact-path anti-join): a doc id
      // already in the index — a retry after a partial failure, or a
      // caller re-sending a batch — must not duplicate its rows. No
      // distinct() on the guard side: LeftAnti keeps a row iff NO match
      // exists, so right-side duplicates cannot change the result and the
      // distinct was a pure extra shuffle of the whole index id column (r6)
      .join(spark.read.parquet(s"$dir/shingles").select("id"),
        Seq("id"), "left_anti")
      .select("id", "gh")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // snapshot before any write — ONE action materializes both caches
      // (two separate counts paid two job round-trips for tiny tables; r6)
      newExact.select(lit(1).as("one"))
        .unionAll(newShingles.select(lit(1).as("one"))).count()
      // both tables are fully materialized caches from this point, writing
      // to distinct dirs — overlap the two append jobs (r6, guide §2.6)
      runParallel(
        () => newExact.write.mode("append").parquet(s"$dir/exact"),
        () => newShingles.write.mode("append").parquet(s"$dir/shingles"))
      graft.sources.SketchTable.saveManifestOnly(spark, dir,
        p + ("appends" ->
          (p.getOrElse("appends", "0").toLong + 1).toString))
    } finally {
      newExact.unpersist(); newShingles.unpersist(); docs.unpersist()
    }
  }

  /** Compact an appended fingerprint index in place: each table is
    * rewritten into `filesPerTable` files clustered on its probe key
    * (`exact/` on content_hash, `shingles/` and `hot/` on gh), so a
    * probe's scan reads few well-sorted row groups instead of one small
    * appended wave-file per batch (row-group min/max pruning + better
    * compression). Pure layout work — row multisets are untouched, so a
    * probe before and after compaction is byte-identical (driver-gated:
    * `dedup_index_compaction`). Cost is one shuffle of the INDEX tables
    * (~scale_hex/256 of corpus shingle volume), never the corpus — run it
    * on the same cadence as the hot-list refresh. The swap is
    * delete-then-rename per table (LocalFS rename refuses existing
    * targets); a crash between the two loses only a rebuildable derived
    * artifact, and the manifest (written last) still names the params. */
  def compactFingerprintIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      filesPerTable: Int = 8): Unit = {
    val manifest = graft.sources.SketchTable.readManifest(spark, dir)
    graft.sources.SketchTable.requireParams(manifest,
      Map("kind" -> "fingerprint"), dir)
    val p = graft.sources.SketchTable.params(manifest)
    def rewrite(sub: String, key: String): Unit = {
      val path = s"$dir/$sub"
      val tmp = s"$dir/${sub}_compact_tmp"
      spark.read.parquet(path)
        .repartition(filesPerTable, col(key))
        .sortWithinPartitions(key)
        .write.mode("overwrite").parquet(tmp)
      graft.sources.SketchTable.replaceDir(spark, tmp, path)
    }
    // three independent table rewrites into distinct directories — overlap
    // them so the wall is the largest table's rewrite, not the sum (r6,
    // guide §2.6)
    runParallel(
      () => rewrite("exact", "content_hash"),
      () => rewrite("shingles", "gh"),
      () => rewrite("hot", "gh"))
    graft.sources.SketchTable.saveManifestOnly(spark, dir,
      p + ("compactions" ->
        (p.getOrElse("compactions", "0").toLong + 1).toString))
  }

  /** Dedup a new batch against a persisted fingerprint index. Output:
    * (doc_id, match_id, kind, jaccard_x1m) — kind 'exact' (content-hash
    * hit on the index, jaccard_x1m = 1000000) or 'near' (scaled-set
    * Jaccard ≥ minJaccardX1m; the x1m value is integer-derived with the
    * dedup_ngram_jaccard expression convention, so it gates byte-exact).
    * Probe-side params come from the manifest — a mismatched index fails
    * loudly, never probes wrong.
    *
    * Scale shape: old text is never touched — the exact probe joins
    * 32-char hashes; the near probe joins scaled fingerprints (both sides
    * ~scale/256 of shingle volume) and aggregates (new, old) candidate
    * pairs only. */
  def dedupAgainstIndex(
      newDocs: DataFrame, idCol: String, textCol: String, dir: String,
      minJaccardX1m: Long = 500000L): DataFrame = {
    val (hashes, newSh) = probeProjections(newDocs, idCol, textCol, dir)
    dedupAgainstIndexWithProbes(newDocs.sparkSession, hashes, newSh, dir,
      minJaccardX1m)
  }

  /** The probe-side projections of [[dedupAgainstIndex]]: (content-hash
    * rows `(doc_id, content_hash)`, capped scaled fingerprints
    * `(id, gh)`). Exposed so a caller probing the SAME batch against an
    * index more than once — e.g. the before/after identity probe around
    * [[compactFingerprintIndex]] — can persist these two small tables and
    * pay the dominant per-byte shingle+md5 work once (the
    * buildFilters/sketchWithFilters posture; library operators never
    * cache, callers do). Params come from the manifest, so a mismatched
    * index still fails loudly here. */
  def probeProjections(
      newDocs: DataFrame, idCol: String, textCol: String,
      dir: String): (DataFrame, DataFrame) = {
    val spark = newDocs.sparkSession
    val manifest = graft.sources.SketchTable.readManifest(spark, dir)
    graft.sources.SketchTable.requireParams(manifest,
      Map("kind" -> "fingerprint"), dir)
    val p = graft.sources.SketchTable.params(manifest)
    val hashes = newDocs
      .select(col(idCol).cast("long").as("doc_id"),
        md5(col(textCol)).as("content_hash"))
    // the probe works in the index's capped universe: fingerprints the
    // build dropped as boilerplate are dropped here too (including from
    // the n_new denominator), so the Jaccard both sides compute is over
    // the same set family
    val newSh = scaledFingerprints(newDocs, idCol, textCol, p("k").toInt,
        p("scale_hex"), p("seed"))
      .join(spark.read.parquet(s"$dir/hot"), Seq("gh"), "left_anti")
    (hashes, newSh)
  }

  /** Index-side half of [[dedupAgainstIndex]] over prebuilt
    * [[probeProjections]]. Each call re-reads the PERSISTED index tables
    * (exact/shingles), so a probe after an in-place layout rewrite sees
    * the rewritten files while the probe side stays fixed. */
  def dedupAgainstIndexWithProbes(
      spark: org.apache.spark.sql.SparkSession,
      hashes: DataFrame, // (doc_id, content_hash)
      newSh: DataFrame, // (id, gh), already hot-capped
      dir: String,
      minJaccardX1m: Long = 500000L): DataFrame = {
    val exact = hashes
      .join(spark.read.parquet(s"$dir/exact"), "content_hash")
      .select(col("doc_id"), col("canonical_id").as("match_id"),
        lit("exact").as("kind"), lit(1000000L).as("jaccard_x1m"))
    val shIdx = spark.read.parquet(s"$dir/shingles")
      .select(col("id").as("old_id"), col("gh"))
    val oldN = shIdx.groupBy("old_id").agg(count(lit(1)).as("n_old"))
    val newN = newSh.groupBy("id").agg(count(lit(1)).as("n_new"))
    val near = newSh.join(shIdx, "gh")
      .groupBy(col("id"), col("old_id"))
      .agg(count(lit(1)).as("inter"))
      .join(newN, "id")
      .join(oldN, "old_id")
      .withColumn("jaccard_x1m",
        round(col("inter") * 1000000.0 /
          (col("n_new") + col("n_old") - col("inter"))).cast("long"))
      .where(col("jaccard_x1m") >= minJaccardX1m)
      .select(col("id").as("doc_id"), col("old_id").as("match_id"),
        lit("near").as("kind"), col("jaccard_x1m"))
    exact.unionByName(near)
  }

  /** Cross-document boilerplate line removal (the CCNet/RefinedWeb curation
    * stage): a LINE is boilerplate WITHIN a source when it occurs in at
    * least `minFrac` of that source's documents (and in at least `minDocs`
    * of them — the fraction alone is vacuous for tiny sources). Such lines
    * — nav menus, cookie banners, license headers, signature footers — are
    * stripped from every document of the source; within-document repetition
    * is the OTHER signal ([[TextStats]] Gopher ratios) and deliberately
    * does not count here (occurrence is per distinct document).
    *
    * Scale posture: the count shuffle is on (source, line) after a
    * per-document distinct — O(total lines), never all-pairs; the
    * boilerplate table is small BY CONSTRUCTION (only lines above the
    * occurrence threshold survive) and joins back broadcast; document
    * reconstruction is one groupBy(id) carrying (pos, line). Lines order-
    * preserving: output text is the kept lines joined by newline in
    * original position order.
    *
    * Output: (id, source, n_lines, n_removed, cleaned) — one row per input
    * document (F4 posture: a fully-boilerplate document survives with
    * cleaned = "" and n_removed = n_lines, never dropped). */
  def stripBoilerplateLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      minFrac: Double = 0.5,
      minDocs: Int = 2): DataFrame = {
    require(minFrac > 0.0 && minFrac <= 1.0, s"minFrac=$minFrac")
    require(minDocs >= 1, s"minDocs=$minDocs")
    // coalesce: posexplode of split(NULL) emits ZERO rows — a NULL-text doc
    // would silently vanish (while still counting in docsPerSource),
    // violating the F4 contract below
    val lines = df.select(col(idCol), col(sourceCol),
      posexplode(split(coalesce(col(textCol), lit("")), "\n", -1))
        .as(Seq("pos", "line")))
    val docsPerSource = df.groupBy(col(sourceCol))
      .agg(countDistinct(col(idCol)).as("__nd"))
    val bp = lines.select(col(sourceCol), col("line"), col(idCol)).distinct()
      .groupBy(col(sourceCol), col("line")).agg(count(lit(1)).as("__c"))
      .join(docsPerSource, sourceCol)
      .where(col("__c") >= greatest(lit(minDocs.toLong),
        ceil(col("__nd") * minFrac).cast("long")))
      .select(col(sourceCol), col("line"), lit(true).as("__bp"))
    lines.join(broadcast(bp), Seq(sourceCol, "line"), "left")
      .groupBy(col(idCol), col(sourceCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__bp"), 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(
          array_sort(collect_list(
            when(col("__bp").isNull, struct(col("pos"), col("line"))))),
          _.getField("line")), "\n").as("cleaned"))
  }
}
