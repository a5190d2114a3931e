package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away " * 8
  private lazy val docs = Seq(
    (0L, base),
    (1L, base), // exact dup of 0
    (2L, base.replace("quick", "rapid")), // near dup of 0
    (3L, "completely different content about spark query engines " * 10),
    (4L, "unrelated text on sketching algorithms and data streams " * 10)
  ).toDF("doc_id", "text")

  test("exact dedup picks minimum id as canonical") {
    val got = Dedup.exactCanonical(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq ==
      Seq((0L, 0L, true), (1L, 0L, false), (2L, 2L, true), (3L, 3L, true),
        (4L, 4L, true)))
  }

  test("span dedup canonicalizes repeated substrings across documents") {
    // doc 10 and doc 20 share an identical leading span; doc 30 is unique.
    // size=8, overlap=0 → chunks are the 8-char windows themselves.
    val spans = Seq(
      (10L, "AAAABBBBCCCCDDDD"), // chunks: AAAABBBB, CCCCDDDD
      (20L, "AAAABBBBEEEEFFFF"), // chunk 0 duplicates doc 10's chunk 0
      (30L, "GGGGHHHH")
    ).toDF("doc_id", "text")
    val got = Dedup.spanDedup(spans, "doc_id", "text", size = 8)
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Int, Long, Int, Boolean)].collect().toSeq
    assert(got == Seq(
      (10L, 0, 10L, 0, true), (10L, 1, 10L, 1, true),
      (20L, 0, 10L, 0, false), // the repeated span maps to doc 10's copy
      (20L, 1, 20L, 1, true),
      (30L, 0, 30L, 0, true)), got)
  }

  test("minhash lsh finds exact+near dups, nothing else") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        numBands = 32, rowsPerBand = 4, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), "exact duplicate pair missed")
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)),
      "near-duplicate pair missed")
    assert(!pairs.exists(p => p._1 >= 3L || p._2 >= 3L),
      s"false positive pair: $pairs")
  }

  test("minhash lsh matches exact jaccard pairs on this corpus") {
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text",
        numBands = 32, rowsPerBand = 4, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.exactJaccardPairs(docs, "doc_id", "text",
        threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == exact)
  }

  test("connected min-labels resolve chains, not just cliques") {
    // chain 1-2-3-4 (diameter 3) + separate pair (8,9): label propagation
    // must reach the component minimum through multiple hops
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (8L, 9L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedMinLabels(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      8L -> 8L, 9L -> 8L), s"$got")
  }

  test("near-dup canonicalization keeps one copy per cluster") {
    val got = Dedup.nearDupCanonical(docs, "doc_id", "text",
        numBands = 32, rowsPerBand = 4, threshold = 0.5)
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // docs 0,1,2 are an exact/near-dup cluster → canonical 0; 3,4 alone
    assert(got(0L) == (0L, true) && got(1L) == (0L, false) &&
      got(2L) == (0L, false), s"$got")
    assert(got(3L) == (3L, true) && got(4L) == (4L, true), s"$got")
  }

  test("simhash finds exact duplicates at hamming 0") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0))
    assert(!pairs.exists(p => p._2 >= 3L))
  }

  private lazy val vecs = {
    val r = new scala.util.Random(7)
    val rows = (0L until 50L).map { i =>
      (i, Array.fill(16)(r.nextFloat() * 2 - 1))
    } :+ (50L, null) // replaced below
    val dup = rows(3)._2.clone
    dup(0) += 0.001f // near-duplicate of vec 3
    (rows.dropRight(1) :+ (50L, dup)).toDF("id", "vec")
  }

  test("brute-force topk ranks the planted near-duplicate first") {
    val qs = vecs.where($"id" === 3L)
      .select($"id".as("qid"), $"vec".as("qvec"))
    val got = Similarity.bruteForceTopK(vecs, qs, k = 3).collect()
    assert(got.length == 3)
    assert(got.find(_.getInt(1) == 1).get.getLong(2) == 50L,
      "rank-1 neighbour should be the planted near-dup")
  }

  test("lsh topk finds the planted near-duplicate (high-sim recall)") {
    val qs = vecs.where($"id" === 3L)
      .select($"id".as("qid"), $"vec".as("qvec"))
    val got = Similarity.lshTopK(vecs, qs, k = 3, tables = 12, bits = 6)
      .collect()
    assert(got.exists(r => r.getLong(2) == 50L && r.getInt(1) == 1),
      s"lsh missed the near-dup: ${got.mkString(",")}")
  }

  test("zero-norm embeddings never rank as neighbours (cosine = 0, not NaN)") {
    val withZero = vecs.union(
      Seq((99L, Array.fill(16)(0.0f))).toDF("id", "vec"))
    val qs = withZero.where($"id" === 3L)
      .select($"id".as("qid"), $"vec".as("qvec"))
    val got = Similarity.bruteForceTopK(withZero, qs, k = 3).collect()
    assert(!got.exists(_.getLong(2) == 99L),
      s"zero vector ranked as a neighbour: ${got.mkString(",")}")
    assert(got.find(_.getInt(1) == 1).get.getLong(2) == 50L)
  }

  test("ivf topk finds the planted near-duplicate") {
    val qs = vecs.where($"id" === 3L)
      .select($"id".as("qid"), $"vec".as("qvec"))
    val got = Similarity.ivfTopK(vecs, qs, k = 3, nCentroids = 8, nProbe = 3)
      .collect()
    assert(got.nonEmpty)
    assert(got.exists(r => r.getLong(2) == 50L && r.getInt(1) == 1),
      s"ivf missed the near-dup: ${got.mkString(",")}")
  }

  test("int8-quantized cosine ranks like float (planted near-dup first)") {
    val corpus = vecs.toDF("id", "vec")
    val qs = corpus.where(col("id") === 0L)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val q8 = Similarity.bruteForceTopKQ8(corpus, qs, 3)
      .orderBy("rank").as[(Long, Int, Long, Double)].collect()
    val fl = Similarity.bruteForceTopK(corpus, qs, 3)
      .orderBy("rank").as[(Long, Int, Long, Double)].collect()
    assert(q8.head._3 == fl.head._3, "quantized top-1 must match float")
    // quantized sim within 0.05 of the float sim at every returned rank
    q8.zip(fl).foreach { case (a, b) =>
      assert(math.abs(a._4 - b._4) < 0.05, s"q8=$a float=$b")
    }
  }

  test("kmeans refinement pulls centroids onto the true cluster means") {
    val centers = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val rows = for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until 20
    } yield (ci * 20L + j,
      c.zipWithIndex.map { case (x, d) => x + 0.02f * ((j + d) % 3) })
    val df = rows.toDF("id", "vec")
    // seed with one member per cluster; 3 Lloyd iterations must land each
    // refined centroid at cosine >= 0.99 of a distinct true center
    val seed = Seq(rows(0)._2.toSeq, rows(20)._2.toSeq, rows(40)._2.toSeq)
    val refined = Similarity.refineCentroids(df, seed, iters = 3)
    def cos(a: Seq[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val matched = refined.map(r => centers.indexWhere(c => cos(r, c) >= 0.99))
    assert(matched.forall(_ >= 0), s"unmatched refined centroid: $refined")
    assert(matched.distinct.size == 3, s"centroids collapsed: $matched")
  }

  test("persisted ivf index: partition-pruned probe matches inline ivf") {
    val corpus = vecs.toDF("id", "vec")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.IvfIndex.build(corpus, dir, nCentroids = 8)
    val qs = corpus.limit(10)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val fromIndex = Similarity.IvfIndex.topK(spark, dir, qs, 3, nProbe = 2)
    val inline = Similarity.ivfTopK(corpus, qs, 3, nCentroids = 8, nProbe = 2)
    assert(fromIndex.select("qid", "rank", "id")
      .as[(Long, Int, Long)].collect().toSet ==
      inline.select("qid", "rank", "id")
        .as[(Long, Int, Long)].collect().toSet,
      "index probe must equal the inline ivf plan (same centroids)")
    // the probe plan must prune partitions, not scan every cell
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"), plan)
  }

  test("ivf append: probe over base+appended equals inline on index centroids") {
    val corpus = vecs.toDF("id", "vec")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    // base index over the first 40 vectors; the rest arrive incrementally
    Similarity.IvfIndex.build(corpus.where($"id" < 40L), dir, nCentroids = 8)
    val drift = Similarity.IvfIndex.append(corpus.where($"id" >= 40L), dir)
    assert(drift >= 0.0 && drift <= 1.0)
    val manifest = graft.sources.SketchTable.readManifest(spark, dir)
    val p = graft.sources.SketchTable.params(manifest)
    assert(p.get("appends").contains("1"), s"manifest not bumped: $p")
    assert(p.contains("last_drift_x1m"), s"drift not recorded: $p")
    // probe over the updated index == inline assignment of the FULL corpus
    // to the index's frozen centroids (base rows never re-assigned)
    val qs = corpus.limit(8)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val fromIndex = Similarity.IvfIndex.topK(spark, dir, qs, 3, nProbe = 3)
      .select("qid", "rank", "id").as[(Long, Int, Long)].collect().toSet
    val inline = Similarity.inlineIvfProbe(corpus, qs,
        Similarity.IvfIndex.loadCentroids(spark, dir), k = 3, nProbe = 3)
      .select("qid", "rank", "id").as[(Long, Int, Long)].collect().toSet
    assert(fromIndex == inline,
      "appended index probe diverged from inline assignment on the " +
        "index's centroids")
    // mismatched dims must fail loudly BEFORE writing anything
    val bad = Seq((999L, Array.fill(8)(0.5f))).toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      Similarity.IvfIndex.append(bad, dir)
    }
    assert(e.getMessage.contains("dims"), e.getMessage)
    // the failed append left the index intact (same probe result)
    val again = Similarity.IvfIndex.topK(spark, dir, qs, 3, nProbe = 3)
      .select("qid", "rank", "id").as[(Long, Int, Long)].collect().toSet
    assert(again == fromIndex)
  }

  test("ivf append of an empty batch leaves the index's probes unchanged") {
    val corpus = vecs.toDF("id", "vec")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-empty").toString
    Similarity.IvfIndex.build(corpus, dir, nCentroids = 8)
    val qs = corpus.limit(8)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    def probe() = Similarity.IvfIndex.topK(spark, dir, qs, 3, nProbe = 3)
      .select("qid", "rank", "id").as[(Long, Int, Long)].collect().toSet
    val before = probe()
    assert(Similarity.IvfIndex.append(corpus.limit(0), dir) == 0.0)
    assert(probe() == before)
  }

  test("ivf append releases its persisted batch when the dims guard fires") {
    val corpus = vecs.toDF("id", "vec")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-guard").toString
    Similarity.IvfIndex.build(corpus, dir, nCentroids = 8)
    spark.catalog.clearCache()
    val bad = Seq((999L, Array.fill(8)(0.5f))).toDF("id", "vec")
    intercept[IllegalArgumentException](Similarity.IvfIndex.append(bad, dir))
    assert(spark.sharedState.cacheManager.isEmpty,
      "the failed append left its flagged batch persisted")
  }

  test("cosine near-dup pairs via srp lsh") {
    val got = Similarity.cosineNearDupPairs(vecs, threshold = 0.999,
        tables = 16, bits = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((3L, 50L)))
  }

  test("classify exact assigns a mutated copy to its source group") {
    val corpus = Seq(
      ("gA", "alpha beta gamma delta epsilon zeta eta theta " * 12),
      ("gB", "one two three four five six seven eight nine ten " * 12),
      ("gC", "red orange yellow green blue indigo violet colors " * 12)
    ).toDF("group", "text")
    val queries = Seq(
      (1L, "one two three four five six seven eight nine ten " * 6),
      (2L, ("alpha beta gamma delta epsilon zeta eta theta " * 6)
        .replace("gamma", "gamXa"))
    ).toDF("query_id", "text")
    val got = Classify.exact(corpus, queries, minFraction = 0.1)
      .select("query_id", "group").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "gB"), (2L, "gA")))
    val sk = Classify.sketch(corpus, queries, minFraction = 0.1,
        expectedShinglesPerGroup = 4096)
      .select("query_id", "group").as[(Long, String)].collect().toSet
    assert(sk == got, "bloom classification disagrees with exact")
    // adaptive CI thresholds (SF10 inside the plan): the k-mer mutation
    // model at 5% per-byte error keeps the mutated copy classified, and the
    // percentage mode reproduces the fixed-fraction path exactly
    val ci = Classify.exactCI(corpus, queries,
        graft.functions.Thresholds.KmerCI(8, 0.05))
      .select("query_id", "group").as[(Long, String)].collect().toSet
    assert(ci == got, s"kmer-CI classification diverged: $ci")
    val pct = Classify.exactCI(corpus, queries,
        graft.functions.Thresholds.Percentage(0.1))
      .select("query_id", "group").as[(Long, String)].collect().toSet
    assert(pct == got)
    val skci = Classify.sketchCI(corpus, queries,
        graft.functions.Thresholds.KmerCI(8, 0.05),
        expectedShinglesPerGroup = 4096)
      .select("query_id", "group").as[(Long, String)].collect().toSet
    assert(skci == got, "bloom CI classification disagrees")
  }

  test("weighted priority sampling over-represents heavy rows, stably") {
    val rows = ((1L to 100L).map(i => (i, 1000L)) ++
      (101L to 1100L).map(i => (i, 1L))).toDF("id", "w")
      .withColumn("g", lit("s"))
    val sample = Sampling
      .weightedBottomK(rows, Seq("g"), "id", "w", k = 50)
      .select("id").as[Long].collect().toSet
    assert(sample.size === 50)
    // 100 heavy rows at weight 1000 vs 1000 light rows at weight 1:
    // priority sampling should hand most of the 50 slots to heavy rows
    val heavy = sample.count(_ <= 100L)
    assert(heavy >= 35, s"only $heavy heavy rows sampled")
    // pure function of (seed, id, weight): partitioning cannot change it
    val reshuffled = Sampling
      .weightedBottomK(rows.repartition(7, col("id")).orderBy(desc("id")),
        Seq("g"), "id", "w", k = 50)
      .select("id").as[Long].collect().toSet
    assert(reshuffled === sample)
  }

  test("incremental dedup probes a persisted index for exact and near hits") {
    val tmp = java.nio.file.Files.createTempDirectory("fpidx-spec").toString
    val base =
      "the quick brown fox jumps over the lazy dog again and again " * 8
    val oldDocs = Seq(
      (1L, base),
      (2L, "completely different content about spark aggregation flows " * 8))
      .toDF("doc_id", "text")
    val newDocs = Seq(
      (10L, base), // exact dup of 1
      (11L, base.replace("lazy", "hazy")), // near dup of 1
      (12L, "unrelated text sharing nothing with the indexed corpus " * 8))
      .toDF("doc_id", "text")
    Dedup.buildFingerprintIndex(oldDocs, "doc_id", "text", tmp)
    val out = Dedup
      .dedupAgainstIndex(newDocs, "doc_id", "text", tmp,
        minJaccardX1m = 400000)
      .select("doc_id", "match_id", "kind")
      .as[(Long, Long, String)].collect().toSet
    assert(out.contains((10L, 1L, "exact")), out)
    assert(out.contains((10L, 1L, "near")), out) // j = 1.0 also clears near
    assert(out.contains((11L, 1L, "near")), out)
    assert(!out.exists(_._1 == 12L), out) // unrelated doc untouched
    assert(!out.exists(_._2 == 2L), out) // nothing matches the other old doc
    // df cap: with every fingerprint declared boilerplate (cap 0) the near
    // channel is silenced — capped-universe semantics — while the exact
    // content-hash channel is untouched
    val capped = java.nio.file.Files.createTempDirectory("fpidx-cap").toString
    Dedup.buildFingerprintIndex(oldDocs, "doc_id", "text", capped,
      maxDf = Some(0))
    val outCap = Dedup
      .dedupAgainstIndex(newDocs, "doc_id", "text", capped,
        minJaccardX1m = 400000)
      .select("doc_id", "match_id", "kind")
      .as[(Long, Long, String)].collect().toSet
    assert(outCap == Set((10L, 1L, "exact")), outCap)
    // probing a non-fingerprint dir fails loudly, never probes wrong
    val wrong = java.nio.file.Files.createTempDirectory("fpidx-wrong").toString
    graft.sources.SketchTable.saveManifestOnly(spark, wrong,
      Map("kind" -> "ivf"))
    intercept[IllegalArgumentException] {
      Dedup.dedupAgainstIndex(newDocs, "doc_id", "text", wrong)
    }
  }

  test("fingerprint index append equals a rebuild over the union") {
    val base =
      "the quick brown fox jumps over the lazy dog again and again " * 8
    val oldDocs = Seq(
      (1L, base),
      (2L, "completely different content about spark aggregation flows " * 8))
      .toDF("doc_id", "text")
    val batch = Seq(
      (5L, base.replace("quick", "brisk")), // near dup of 1
      (6L, "fresh corpus material with an entirely new vocabulary here " * 8))
      .toDF("doc_id", "text")
    val probeDocs = Seq(
      (20L, base), // exact+near dup of 1
      (21L, base.replace("quick", "brisk")), // exact dup of appended 5
      (22L, "fresh corpus material with an entirely new vocabulary here " * 8
        + " tail"), // near dup of appended 6
      (23L, "matches nothing at all in either corpus generation qqqq " * 8))
      .toDF("doc_id", "text")
    def probe(dir: String) = Dedup
      .dedupAgainstIndex(probeDocs, "doc_id", "text", dir,
        minJaccardX1m = 400000)
      .select("doc_id", "match_id", "kind", "jaccard_x1m")
      .as[(Long, Long, String, Long)].collect().toSet
    // appended index (ids monotone, maxDf=None) must probe identically to
    // a from-scratch rebuild over the union
    val appended = java.nio.file.Files
      .createTempDirectory("fpidx-append").toString
    Dedup.buildFingerprintIndex(oldDocs, "doc_id", "text", appended)
    Dedup.appendToFingerprintIndex(batch, "doc_id", "text", appended)
    val rebuilt = java.nio.file.Files
      .createTempDirectory("fpidx-rebuild").toString
    Dedup.buildFingerprintIndex(oldDocs.unionByName(batch),
      "doc_id", "text", rebuilt)
    val got = probe(appended)
    val reb = probe(rebuilt)
    assert(got == reb, s"append diverged from rebuild: $got vs $reb")
    assert(got.exists(r => r._1 == 21L && r._2 == 5L && r._3 == "exact"), got)
    assert(got.exists(r => r._1 == 22L && r._2 == 6L && r._3 == "near"), got)
    assert(!got.exists(_._1 == 23L), got)
    // re-appending an already-indexed TEXT adds no exact row (first
    // arrival stays canonical)
    val before = spark.read.parquet(s"$appended/exact").count()
    Dedup.appendToFingerprintIndex(
      Seq((99L, base)).toDF("doc_id", "text"), "doc_id", "text", appended)
    assert(spark.read.parquet(s"$appended/exact").count() == before,
      "known content hash re-appended")
    val p = graft.sources.SketchTable.params(
      graft.sources.SketchTable.readManifest(spark, appended))
    assert(p.get("appends").contains("2"), s"manifest not bumped: $p")
    // appending into a non-fingerprint dir fails loudly
    val wrong = java.nio.file.Files
      .createTempDirectory("fpidx-append-wrong").toString
    graft.sources.SketchTable.saveManifestOnly(spark, wrong,
      Map("kind" -> "ivf"))
    intercept[IllegalArgumentException] {
      Dedup.appendToFingerprintIndex(batch, "doc_id", "text", wrong)
    }
    // compaction: probes identical, appended wave-files merged into the
    // requested clustered layout, manifest compactions bumped, params kept
    val filesBefore = new java.io.File(s"$appended/shingles")
      .listFiles().count(f => f.getName.endsWith(".parquet"))
    // re-probe AFTER the 99L append above: that append added 99's shingles
    val preCompact = probe(appended)
    Dedup.compactFingerprintIndex(spark, appended, filesPerTable = 2)
    assert(probe(appended) == preCompact, "compaction changed probe results")
    val filesAfter = new java.io.File(s"$appended/shingles")
      .listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(filesAfter <= 2 && filesAfter < filesBefore,
      s"shingles not compacted: $filesBefore -> $filesAfter")
    val pc = graft.sources.SketchTable.params(
      graft.sources.SketchTable.readManifest(spark, appended))
    assert(pc.get("compactions").contains("1"), s"no compaction bump: $pc")
    assert(pc.get("appends") == p.get("appends"), s"append history lost: $pc")
    intercept[IllegalArgumentException] {
      Dedup.compactFingerprintIndex(spark, wrong)
    }
  }

  test("coarse-layout cost search avoids saturated bucket filters") {
    // 1) the planner's driver-side bucket assignment must mirror the
    // probe's pmod(xxhash64(group), b) exactly, or it plans the wrong
    // layout
    val names = (0 until 64).map(g => s"g$g")
    val b = 16
    val engine = names.toDF("group")
      .select(col("group"),
        pmod(xxhash64(col("group")), lit(b)).cast("int").as("bk"))
      .as[(String, Int)].collect().toMap
    names.foreach(g => assert(Classify.bucketOf(g, b) == engine(g), g))

    // 2) tiny loads: saturation impossible, the sweep reduces to balancing
    // bucket count vs members-per-bucket — a coarse (small-b) layout
    val cap = 4096L
    val tiny = Classify.planCoarseBuckets(names.map(_ -> 1.0),
      expectedShinglesPerGroup = cap)
    // 3) every group at filter capacity: any co-bucketed pair saturates
    // the OR-merged coarse filter (fpr → 1 ⇒ no pruning), so the model
    // must choose a strictly finer layout than the tiny-load case
    val loaded = Classify.planCoarseBuckets(names.map(_ -> cap.toDouble),
      expectedShinglesPerGroup = cap)
    assert(tiny <= 16, s"tiny-load choice $tiny")
    assert(loaded > tiny, s"saturated choice $loaded vs tiny $tiny")
  }

  test("hierarchical bloom probe equals the flat probe exactly") {
    // 9 groups across 3 buckets so the coarse layer actually prunes
    val corpus = (0 until 9).map { g =>
      (s"g$g", s"group$g words ${('a' + g).toChar} vocab item " * 15)
    }.toDF("group", "text")
    val queries = (0 until 9 by 2).map { g =>
      (g.toLong, s"group$g words ${('a' + g).toChar} vocab item " * 7)
    }.toDF("query_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "group", "match_cnt", "query_n")
        .as[(Long, String, Long, Long)].collect().toSet
    val flat = rows(Classify.sketch(corpus, queries, minFraction = 0.1,
      expectedShinglesPerGroup = 4096))
    val hier = rows(Classify.hierarchicalSketch(corpus, queries,
      minFraction = 0.1, nBuckets = 3, expectedShinglesPerGroup = 4096))
    // bucket filters are bitwise ORs of member filters with identical
    // params, so pruning is lossless: identical output, fewer fine probes
    assert(hier == flat, s"hier=$hier flat=$flat")
    assert(flat.map(_._1) == Set(0L, 2L, 4L, 6L, 8L))
    // shared-build path + auto-chosen coarse layout: still equal to flat
    val filters = Classify.buildFilters(corpus,
      expectedShinglesPerGroup = 4096).cache()
    val flat2 = rows(Classify.sketchWithFilters(filters, queries,
      minFraction = 0.1))
    val hierAuto = rows(Classify.hierarchicalSketchWithFilters(filters,
      queries, minFraction = 0.1, nBuckets = 0,
      expectedShinglesPerGroup = 4096))
    // interleaved bulk-count probe: same bits, one blob, same output
    val ixf = rows(Classify.interleavedSketchWithFilters(filters, queries,
      minFraction = 0.1))
    assert(ixf == flat, s"interleaved diverged: ixf=$ixf flat=$flat")
    filters.unpersist()
    assert(Classify.autoBuckets(9) == 3)
    assert(flat2 == flat && hierAuto == flat,
      s"shared/auto paths diverged: flat2=$flat2 hierAuto=$hierAuto")
  }

  test("profile unique-mapping + low-confidence filters") {
    // q1,q2,q3 unique to A; q4 ambiguous A/B; q5 ambiguous B/C; q6 unique C
    val m = Seq(
      ("q1", "A", 10L), ("q2", "A", 10L), ("q3", "A", 10L),
      ("q4", "A", 5L), ("q4", "B", 5L),
      ("q5", "B", 5L), ("q5", "C", 5L),
      ("q6", "C", 10L)
    ).toDF("query_id", "ref", "match_cnt").withColumn("query_n", lit(20L))
    val f5 = ProfilePipeline.uniqueMappingFilter(m)
      .select("query_id", "ref").as[(String, String)].collect().toSet
    // B has no unique query: q4->B and q5->B dropped... but q5->C stays (C
    // has unique q6), making q5 unique afterwards? No: filter is one pass.
    assert(f5 == Set(("q1", "A"), ("q2", "A"), ("q3", "A"), ("q4", "A"),
      ("q5", "C"), ("q6", "C")))
    val f6 = ProfilePipeline.lowConfidenceFilter(m, minUnique = 3,
        minRatio = 0.01)
      .select("query_id", "ref").as[(String, String)].collect().toSet
    // only A has >= 3 unique queries; C (1 unique) and B (0) are dropped
    assert(f6 == Set(("q1", "A"), ("q2", "A"), ("q3", "A"), ("q4", "A")))
  }

  test("association filter remaps a contained ref to its container") {
    // every query of A also maps to B; B has more uniques -> A explained by B
    val m = Seq(
      ("q1", "A", 5L), ("q1", "B", 5L),
      ("q2", "A", 5L), ("q2", "B", 5L),
      ("q3", "B", 9L), ("q4", "B", 9L), ("q5", "B", 9L),
      ("q6", "C", 9L)
    ).toDF("query_id", "ref", "match_cnt").withColumn("query_n", lit(10L))
    val got = ProfilePipeline.associationFilter(m, shareCo = 0.95)
      .select("query_id", "ref").as[(String, String)].collect().toSet
    assert(!got.exists(_._2 == "A"), s"A should be explained away: $got")
    assert(got.count(_._2 == "B") == 5, s"all A queries fold into B: $got")
  }

  test("association filter: dense co-occurrence, only planted edges remap") {
    // 40 refs all pairwise co-occurring (the O(refs²) pair matrix is dense)
    // but below the 0.95 share cut — plus a planted contained pair A0→B0.
    // The explained-edge detection runs distributively; only A0 remaps.
    val dense = (0 until 40).flatMap { q =>
      (0 until 40).map(r => (s"dq$q", s"R$r", 5L)) // every query hits all refs
    }
    // uniques so every R_r has u >= 1 (no dominance among equals)
    val uniq = (0 until 40).map(r => (s"uq$r", s"R$r", 5L))
    val planted = Seq(
      ("p1", "A0", 5L), ("p1", "B0", 5L),
      ("p2", "A0", 5L), ("p2", "B0", 5L),
      ("b1", "B0", 5L), ("b2", "B0", 5L), ("b3", "B0", 5L))
    val m = (dense ++ uniq ++ planted)
      .toDF("query_id", "ref", "match_cnt").withColumn("query_n", lit(10L))
    val got = ProfilePipeline.associationFilter(m, shareCo = 0.95)
      .select("query_id", "ref").as[(String, String)].collect().toSet
    assert(!got.exists(_._2 == "A0"), s"A0 should fold into B0")
    assert(got.count(_._1.startsWith("dq")) == 40 * 40,
      "dense-but-unexplained refs must remain untouched")
    assert((0 until 40).forall(r => got.contains((s"uq$r", s"R$r"))))
  }

  test("em assignment converges to the dominant ref") {
    // ambiguous queries split between A (dominant via uniques) and B
    val m = (1 to 8).map(i => (s"u$i", "A", 8L, 10L)) ++
      (1 to 2).map(i => (s"v$i", "B", 8L, 10L)) ++
      (1 to 4).map(i => (s"w$i", "A", 5L, 10L)) ++
      (1 to 4).map(i => (s"w$i", "B", 5L, 10L))
    val df = m.toDF("query_id", "ref", "match_cnt", "query_n")
    val assigned = ProfilePipeline.emAssign(df, maxIters = 50)
    val byRef = assigned.groupBy("ref").count().as[(String, Long)]
      .collect().toMap
    // ambiguous w* queries (equal likelihood) must fold into dominant A
    assert(byRef("A") == 12 && byRef.getOrElse("B", 0L) == 2,
      s"unexpected assignment: $byRef")
  }

  test("em erase-worst changes the round-2 assignment (reference semantics)") {
    // Hand-run of taxor_profile.cpp:714-719. q3 is split A:0.5 / B:0.6;
    // q1,q2 are unique to A, so after iteration 1 the priors are A=2/3,
    // B=1/3. Iteration 1 (uniform priors) erases q3's worst match, A
    // (post_A = log.5+log.5 < post_B = log.6+log.5), so iteration 2 keeps
    // q3 on B. WITHOUT erase the shifted priors would flip q3 to A in
    // round 2: post_A = log.5+log(2/3) = -1.10 > post_B = log.6+log(1/3)
    // = -1.61 — exactly the divergence the reference's erase prevents.
    val m = Seq(
      ("q1", "A", 10L, 10L),
      ("q2", "A", 10L, 10L),
      ("q3", "A", 5L, 10L),
      ("q3", "B", 6L, 10L)
    ).toDF("query_id", "ref", "match_cnt", "query_n")
    val got = ProfilePipeline.emAssign(m, maxIters = 5)
      .select("query_id", "ref").as[(String, String)].collect().toMap
    assert(got("q3") == "B", s"erase-worst must keep q3 on B: $got")
    assert(got("q1") == "A" && got("q2") == "A")
  }

  test("association filter: container is the top co-mapped ref, any partitioning") {
    // A is explained by B (co 2) and by C (co 3): C wins and A's lone q4
    // folds into C. D is explained by E and F with equal co: E, the lower
    // ref, wins, so D's lone p3 folds into E.
    val m = (Seq("q1" -> "A", "q1" -> "B", "q1" -> "C", "q2" -> "A",
      "q2" -> "B", "q2" -> "C", "q3" -> "A", "q3" -> "C", "q4" -> "A",
      "p1" -> "D", "p1" -> "E", "p1" -> "F", "p2" -> "D", "p2" -> "E",
      "p2" -> "F", "p3" -> "D") ++
      (1 to 5).map(i => s"b$i" -> "B") ++ (1 to 3).map(i => s"c$i" -> "C") ++
      (1 to 3).map(i => s"e$i" -> "E") ++ (1 to 3).map(i => s"f$i" -> "F"))
      .toDF("query_id", "ref").withColumn("match_cnt", lit(5L))
      .withColumn("query_n", lit(10L))
    val got = Seq(1, 7).map(n => withShufflePartitions(n) {
      ProfilePipeline.associationFilter(m, shareCo = 0.5)
        .select("query_id", "ref").as[(String, String)].collect().toSet
    })
    assert(got(0) == got(1), s"partitioning changed the pick: $got")
    assert(got(0).contains(("q4", "C")) && got(0).contains(("p3", "E")),
      s"${got(0)}")
    assert(!got(0).exists(p => p._2 == "A" || p._2 == "D"))
  }

  test("profile functions on an empty input return their empty schema") {
    val m = Seq.empty[(Long, String, Long, Int)]
      .toDF("query_id", "ref", "match_cnt", "query_n")
    for (out <- Seq(ProfilePipeline.uniqueMappingFilter(m),
        ProfilePipeline.lowConfidenceFilter(m),
        ProfilePipeline.associationFilter(m))) {
      assert(out.schema == m.schema && out.isEmpty)
    }
    val em = ProfilePipeline.emAssign(m, maxIters = 20)
    assert(em.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("query_id" -> "bigint", "ref" -> "string", "weight" -> "double"))
    assert(em.isEmpty)
  }

  private def nullIn(column: String) = Seq(
    ("q1", Option("A"), Option(5L), Option(10L)),
    ("q2", if (column == "ref") None else Some("B"),
      if (column == "match_cnt") None else Some(5L),
      if (column == "query_n") None else Some(10L)))
    .toDF("query_id", "ref", "match_cnt", "query_n")

  for (c <- Seq("ref", "match_cnt", "query_n"))
    test(s"association filter and EM reject a null $c on the driver") {
      for (f <- Seq((m: DataFrame) => ProfilePipeline.associationFilter(m),
          (m: DataFrame) => ProfilePipeline.emAssign(m))) {
        val e = intercept[IllegalArgumentException](f(nullIn(c)))
        assert(e.getMessage.contains(s"column $c "), e.getMessage)
      }
    }

  test("hot-shingle df cap drops stopword-only pairs, keeps true dups") {
    // every doc shares one planted hot 8-gram block; only 0/1 are real dups
    val hot = "ZZZZZZZZZZZZZZZZ " // 16 Z's: a run of hot 8-grams
    val d = Seq(
      (0L, hot + "alpha beta gamma delta epsilon zeta " * 5),
      (1L, hot + "alpha beta gamma delta epsilon zeta " * 5),
      (2L, hot + "completely different unrelated one " * 5),
      (3L, hot + "another text about something else " * 5)
    ).toDF("doc_id", "text")
    def pairs(cap: Option[Long]) =
      Dedup.exactJaccardPairs(d, "doc_id", "text", threshold = 0.001,
          maxShingleDf = cap)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val uncapped = pairs(None)
    assert(uncapped.contains((2L, 3L)),
      "hot shingle should pair unrelated docs when uncapped")
    val capped = pairs(Some(2L))
    assert(!capped.contains((2L, 3L)), s"cap must kill stopword pair: $capped")
    assert(capped.contains((0L, 1L)), "true dup must survive the cap")
    // classify analogue: a query of ONLY the hot block matches no group
    // once the cap removes non-discriminative shingles
    val corpus = d.select(concat(lit("g"), col("doc_id")).as("group"),
      col("text"))
    val q = Seq((99L, hot + hot)).toDF("query_id", "text")
    val capCnt = Classify.exactCounts(corpus, q, maxGroupDf = Some(2L))
    assert(capCnt.where(col("match_cnt") > 0).count() == 0)
    assert(Classify.exactCounts(corpus, q)
      .where(col("match_cnt") > 0).count() > 0)
  }

  test("abundance + rollup + cami report") {
    val assigned = Seq(("q1", "A", 10.0), ("q2", "A", 10.0), ("q3", "B", 20.0))
      .toDF("query_id", "ref", "weight")
    val abund = ProfilePipeline.abundance(assigned)
    val taxonomy = Seq(
      ("A", Seq((0, "all"), (1, "left"), (2, "A"))),
      ("B", Seq((0, "all"), (1, "right"), (2, "B"))))
      .toDF("ref", "p")
      .select(col("ref"), expr(
        "transform(p, x -> named_struct('rank', x._1, 'node', x._2))")
        .as("path"))
    val rolled = ProfilePipeline.rollup(abund, taxonomy)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSet
    assert(rolled.contains((0, "all", 1.0)))
    assert(rolled.contains((1, "left", 0.5)) && rolled.contains((1, "right", 0.5)))
    val cami = ProfilePipeline.camiReport(
      ProfilePipeline.rollup(abund, taxonomy))
    assert(cami.collect().head.getString(2) == "100.000000")
  }

  test("image decode: PNG round-trip is byte-exact, non-images yield null rows") {
    // real javax.imageio decode: gray and RGB fixtures round-trip exactly
    for (ch <- Seq(1, 3)) {
      val px = Multimodal.syntheticPixels("fixture-seed", 5, 4, ch)
      val png = Multimodal.syntheticImagePng("fixture-seed", 5, 4, ch)
      val Some((w, h, nb, got)) = Multimodal.decodeImage(png)
      assert(w == 5 && h == 4 && nb == ch)
      assert(java.util.Arrays.equals(got, px))
    }
    assert(Multimodal.decodeImage("not an image".getBytes).isEmpty)
    val df = Seq(
      (1L, Multimodal.syntheticImagePng("s1", 3, 2, 3)),
      (2L, "plain text".getBytes)).toDF("id", "payload")
    val rows = Multimodal.decodeImages(df, "id", "payload")
      .collect().map(d => d.id -> d).toMap
    assert(rows(1L).width.contains(3) && rows(1L).height.contains(2) &&
      rows(1L).channels.contains(3) && rows(1L).pixel_md5.nonEmpty)
    assert(rows(2L).width.isEmpty && rows(2L).pixel_md5.isEmpty) // F4: preserved
  }

  test("image decode: 16-bit samples keep both bytes (no low-byte collision)") {
    // two USHORT_GRAY PNGs whose samples share low bytes and differ only in
    // the high byte — truncation to 1 byte/sample would hash them equal
    def png16(hi: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        3, 2, java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
      val r = img.getRaster
      for (y <- 0 until 2; x <- 0 until 3)
        r.setSample(x, y, 0, (hi << 8) | (x + y * 3 + 1))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val Some((w, h, nb, a)) = Multimodal.decodeImage(png16(0x01))
    val Some((_, _, _, b)) = Multimodal.decodeImage(png16(0x56))
    assert(w == 3 && h == 2 && nb == 1)
    assert(a.length == 3 * 2 * 2, s"expected 2 bytes/sample, got ${a.length}")
    // big-endian round-trip of the first sample: 0x0101
    assert(((a(0) & 0xff) << 8 | (a(1) & 0xff)) == 0x0101)
    assert(Multimodal.md5Hex(a) != Multimodal.md5Hex(b),
      "distinct 16-bit images must not collide under pixel_md5")
    // resize keeps multi-byte samples intact: identity resample == decode
    assert(Multimodal.resizeImage(png16(0x01), 3, 2)
      .exists(java.util.Arrays.equals(_, a)))
  }

  test("image resize: nearest-neighbour thumbnail equals the codec-free resample") {
    val px = Multimodal.syntheticPixels("rs", 7, 5, 3)
    val png = Multimodal.syntheticImagePng("rs", 7, 5, 3)
    val expect = Multimodal.resamplePixels(px, 7, 5, 3, 3, 3)
    assert(Multimodal.resizeImage(png, 3, 3)
      .exists(java.util.Arrays.equals(_, expect)))
    // identity resize reproduces the source raster
    assert(Multimodal.resizeImage(png, 7, 5)
      .exists(java.util.Arrays.equals(_, px)))
    val df = Seq((1L, png), (2L, "noise".getBytes)).toDF("id", "payload")
    val got = Multimodal.resizeImages(df, "id", "payload", 3, 3)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(java.util.Arrays.equals(got(1L), expect))
    assert(got(2L) == null) // undecodable → null, never dropped
  }

  test("dHash: rescaled twins collide, distinct content does not") {
    for ((w, h, ch, f) <- Seq((12, 10, 1, 2), (13, 11, 3, 2), (9, 8, 3, 3))) {
      val base = Multimodal.noisePng(s"dh-$w-$h-$ch", w, h, ch)
      val twin = Multimodal.noiseTwinPng(s"dh-$w-$h-$ch", w, h, ch, f)
      assert(!java.util.Arrays.equals(base, twin),
        "fixture twins must be different bitstreams")
      assert(Multimodal.dHash(base) === Multimodal.dHash(twin),
        s"floor-nesting identity broken at ${w}x$h ch=$ch factor=$f")
    }
    val a = Multimodal.dHash(Multimodal.noisePng("da", 12, 10, 1)).get
    val b = Multimodal.dHash(Multimodal.noisePng("db", 12, 10, 1)).get
    assert(java.lang.Long.bitCount(a ^ b) > 3,
      f"distinct fixtures too close: ${java.lang.Long.bitCount(a ^ b)} bits")
    assert(Multimodal.dHash("not an image".getBytes).isEmpty)
  }

  test("imageNearDupPairs: banded Hamming join finds exactly the planted twins") {
    val rows = (1L to 40L).flatMap { id =>
      val seed = s"nd-$id"
      val base = (id, Multimodal.noisePng(seed, 12, 10, 3))
      if (id % 5 == 0)
        Seq(base, (id + 1000L, Multimodal.noiseTwinPng(seed, 12, 10, 3)))
      else Seq(base)
    } :+ ((9999L, "undecodable".getBytes)) // excluded, never paired
    val got = Multimodal
      .imageNearDupPairs(rows.toDF("id", "payload"), "id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val planted = (1L to 40L).filter(_ % 5 == 0)
      .map(id => (id, id + 1000L, 0)).toSet
    assert(got === planted)
    // wider radii band into more (narrower) chunks — same pigeonhole
    // recall, and at this fixture no new pairs enter the radius
    val wide = Multimodal
      .imageNearDupPairs(rows.toDF("id", "payload"), "id", "payload",
        maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(wide === planted)
    // canonicalization: every twin collapses onto its base id
    val canon = Multimodal
      .imageNearDupCanonical(rows.toDF("id", "payload"), "id", "payload")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    (1L to 40L).foreach { id =>
      if (id % 5 == 0) {
        assert(canon(id) === ((id, true)))
        assert(canon(id + 1000L) === ((id, false)))
      } else assert(canon(id) === ((id, true)))
    }
    assert(canon(9999L) === ((9999L, true))) // undecodable: own canonical
  }

  test("hamming64Pairs: generalized banding finds every pair within radius") {
    // exhaustive check vs brute force on crafted 64-bit words at radii 0-6
    val base = 0x0123456789abcdefL
    val sigs = (0 until 40).map { i =>
      // flip i%7 pseudo-random bit positions derived from i
      val flipped = (0 until i % 7).foldLeft(base) { (v, j) =>
        v ^ (1L << ((i * 11 + j * 17) % 64))
      }
      (i.toLong, flipped)
    }
    val df = sigs.toDF("id", "sig")
    for (h <- Seq(0, 3, 6)) {
      val got = graft.operators.Dedup.hamming64Pairs(df, "id", "sig", h)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = (for {
        (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
        d = java.lang.Long.bitCount(sa ^ sb) if d <= h
      } yield (ia, ib, d)).toSet
      assert(got === want, s"radius $h")
    }
  }

  test("audio decode: WAV/AIFF round-trip to one canonical PCM, energies exact") {
    val canon = Multimodal.syntheticPcm16("au-spec", 200, 2)
    val wav = Multimodal.pcm16Container(canon, 8000, 2)
    val aiff = Multimodal.pcm16Container(canon, 8000, 2, aiff = true)
    assert(!java.util.Arrays.equals(wav, aiff),
      "containers must be different bitstreams")
    val Some((rw, cw, bw, fw, pw)) = Multimodal.decodeAudio(wav)
    val Some((ra, ca, ba, fa, pa)) = Multimodal.decodeAudio(aiff)
    assert((rw, cw, bw, fw) === ((8000, 2, 16, 200L)))
    assert((ra, ca, ba, fa) === ((8000, 2, 16, 200L)))
    // container-format-invariant canonical PCM (the audio pixel_md5 claim)
    assert(java.util.Arrays.equals(pw, canon) &&
      java.util.Arrays.equals(pa, canon))
    // energy windows: integer |sample| sums, hand-checked on a tiny case
    val tiny = Array[Byte](0, 3, -1, -2, 0, 5, 127, 0) // samples 3,-2,5,32512
    assert(Multimodal.pcmEnergyWindows(tiny, 1, 2, 2).toSeq ===
      Seq(5L, 32517L)) // |3|+|-2| ; |5|+|32512|
    assert(Multimodal.pcmEnergyWindows(tiny, 2, 2, 2).toSeq ===
      Seq(3L + 2 + 5 + 32512)) // 2ch: 2 frames = one window
    assert(Multimodal.decodeAudio("not audio".getBytes).isEmpty)
    // batched path: decoded metadata + null row for the undecodable payload
    val rows = Seq((1L, wav), (2L, aiff), (3L, "junk".getBytes))
      .toDF("id", "payload")
    val got = Multimodal.decodeAudios(rows, "id", "payload", 64)
      .collect().map(d => d.id -> d).toMap
    assert(got(1L).pcm_md5 === got(2L).pcm_md5)
    assert(got(1L).energies.get.toSeq ===
      Multimodal.pcmEnergyWindows(canon, 2, 2, 64).toSeq)
    assert(got(3L).pcm_md5.isEmpty && got(3L).n_frames.isEmpty)
  }

  test("topKByScore: two-level top-k equals the global sort, ties by id") {
    import graft.operators.Sampling
    val df = (1L to 500L).toDF("id")
      .withColumn("score", pmod($"id" * 37L, lit(91L))) // planted ties
    val got = Sampling.topKByScore(df, "score", "id", k = 25, buckets = 8)
      .orderBy("rk").collect().map(r => (r.getLong(0), r.getInt(2)))
    val expect = df.orderBy($"score".desc, $"id".asc).limit(25)
      .collect().map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => (id, i + 1) }
    assert(got.toSeq === expect.toSeq)
    // invariant to partitioning
    val re = Sampling.topKByScore(df.repartition(13), "score", "id", 25, 8)
      .orderBy("rk").collect().map(r => (r.getLong(0), r.getInt(2)))
    assert(re.toSeq === expect.toSeq)
  }

  test("importanceWeights: target-like docs outscore off-target, F4 rows kept") {
    import graft.operators.TextStats
    val target = Seq.tabulate(30)(i => s"the quick brown fox $i jumps")
      .toDF("text")
    val raw = (Seq.tabulate(30)(i => s"the quick brown fox $i jumps") ++
      Seq.tabulate(30)(i => s"zzz qqq xxx vvv kkk $i www")).toDF("text")
    val tm = TextStats.charNgramCounts(target, "text", 3)
    val rm = TextStats.charNgramCounts(raw, "text", 3)
    val docs = Seq(
      (1L, "the quick brown fox 7 jumps"),
      (2L, "zzz qqq xxx vvv kkk 7 www"),
      (3L, "ab")).toDF("doc_id", "text") // shorter than n: n_pos = 0
    val w = TextStats.importanceWeights(docs, "doc_id", "text", tm, rm, 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(w(1L)._1 > 0 && w(2L)._1 > 0)
    assert(w(1L)._2 / w(1L)._1 > w(2L)._2 / w(2L)._1,
      s"target-like doc must have higher mean LR: $w")
    assert(w(1L)._3 > w(2L)._3, "log_weight must agree on the ordering")
    assert(w(3L) === ((0L, 0L, 0.0)))
    // deterministic under repartitioning (integer sum, broadcast models)
    val re = TextStats.importanceWeights(
      docs.repartition(7), "doc_id", "text", tm, rm, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(re === w.map { case (k, v) => k -> v._2 })
  }

  test("multimodal decode stub: real plumbing, deterministic features") {
    val df = Seq((1L, "hello world"), (2L, "a" * 200)).toDF("id", "text")
      .select($"id", encode($"text", "UTF-8").as("payload"))
    val got = Multimodal.decode(df, "id", "payload").collect()
      .map(d => d.id -> d).toMap
    assert(got(1L).n_bytes == 11 && got(1L).n_frames == 1)
    assert(got(2L).n_bytes == 200 && got(2L).n_frames == 4)
    assert(got(2L).n_distinct_bytes == 1)
    assert(math.abs(got(2L).features.sum - 1.0) < 1e-5)
  }

  test("multimodal resize stub produces fixed-size deterministic thumbs") {
    val df = Seq((1L, "abcdefgh"), (2L, "")).toDF("id", "text")
      .select($"id", encode($"text", "UTF-8").as("payload"))
    val got = Multimodal.resize(df, "id", "payload", w = 4, h = 2)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(got(1L).length == 8 && got(2L).length == 8)
    assert(got(1L)(0) == 'a'.toByte && got(1L)(7) == 'h'.toByte)
    assert(got(2L).forall(_ == 0))
  }

  test("syncmers partition the shingle set across offsets t (context-free)") {
    import graft.GraftFunctions._
    GraftFunctions.register(spark)
    val txt = "the quick brown fox jumps over a lazy dog 0123456789 qwerty"
    val df = Seq(Tuple1(txt)).toDF("text")
    val all = df.select(explode(shingles(col("text"), 8)).as("h"))
      .as[Long].collect().toSet
    // the open-syncmer predicate depends only on the k-gram's own bytes, so
    // each distinct k-gram lands at EXACTLY one offset t: the per-t sets are
    // disjoint and their union is the full shingle set
    val perT = (0 to 4).map { t =>
      df.select(explode(syncmers(col("text"), 8, 4, t)).as("h"))
        .as[Long].collect().toSet
    }
    perT.foreach(s => assert(s.subsetOf(all)))
    assert(perT.reduce(_ ++ _) == all)
    assert(perT.map(_.size).sum == all.size, "offset sets must be disjoint")
  }

  test("chunking covers the text with the requested overlap") {
    val txt = ('a' to 'z').mkString * 20 // 520 chars
    val df = Seq((1L, txt), (2L, "short")).toDF("doc_id", "text")
    val got = TextStats.chunk(df, "doc_id", "text", size = 256, overlap = 32)
      .as[(Long, Int, String)].collect()
    val doc1 = got.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    // 520 chars, stride 224 → ceil((520-256)/224)=2 → chunks at 0/224/448
    assert(doc1.length == 3)
    assert(doc1(0) == txt.substring(0, 256))
    assert(doc1(1) == txt.substring(224, 480))
    assert(doc1(2) == txt.substring(448)) // clipped final chunk
    // consecutive chunks overlap by exactly `overlap` chars
    assert(doc1(0).takeRight(32) == doc1(1).take(32))
    // reassembling strides reproduces the document (full coverage)
    assert(doc1(0) + doc1(1).drop(32) + doc1(2).drop(32) == txt)
    val doc2 = got.filter(_._1 == 2L)
    assert(doc2.length == 1 && doc2.head._3 == "short")
  }

  test("repetition stats: dup-line/paragraph fractions and top 2-gram") {
    val d = Seq(
      (1L, "x y\nx y\nz w"),          // 3 lines, 1 dup; top bigram "x y" ×2
      (2L, "aaa\n\naaa"),             // blank line: 3 lines / 2 paragraphs
      (3L, "unique words only here")  // no repetition anywhere
    ).toDF("doc_id", "text")
    val got = TextStats.repetitionStats(d, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      // floor(1*100/3)=33 dup lines; "x y" c=2 len=3 over 11 chars → 54
      (1L, 3L, 33L, 0L, 54L),
      // lines [aaa,"",aaa] → 33; paras [aaa,aaa] → 50; "aaa aaa" → 87
      (2L, 3L, 33L, 50L, 87L),
      // tie-break: lexicographically smallest of the c=1 bigrams is
      // "only here" (9 chars over 22) → 40
      (3L, 1L, 0L, 0L, 40L)), s"got $got")
    // a doc with fewer than two words reports 0 for the bigram signal
    val tiny = TextStats.repetitionStats(
        Seq((9L, "word")).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(tiny == (9L, 1L, 0L, 0L, 0L))
  }

  test("quality gate vetoes duplicate-line documents (Gopher filter)") {
    val spam = ("hello world\n" * 20).trim // 20 identical lines
    val clean = (1 to 20).map(i => s"alpha$i beta$i").mkString("\n")
    val got = TextStats.qualityFlags(
        Seq((1L, spam), (2L, clean)).toDF("doc_id", "text"),
        "doc_id", "text")
      .select("doc_id", "dup_line_ratio_x100", "is_quality")
      .as[(Long, Long, Boolean)].collect()
      .map { case (k, v, q) => k -> (v, q) }.toMap
    assert(got(1L)._1 > 30 && !got(1L)._2,
      s"repetitive doc must fail the gate: ${got(1L)}")
    assert(got(2L)._1 == 0 && got(2L)._2,
      s"clean doc must pass the gate: ${got(2L)}")
  }

  test("piiScrub: class ordering, overlap counts, and no-PII passthrough") {
    val d = Seq(
      // email whose local part is a 10-digit run: must redact as ONE email,
      // never as [NUMBER]@host; counts are per-class on the ORIGINAL text,
      // so the digit run inside it still counts for n_digit_run
      (1L, "mail 0123456789@corp.example.org end"),
      // key-shaped secret whose tail is >=9 digits: [SECRET] wins the
      // redaction (earlier in the chain), digit_run still counted
      (2L, "key sk_abcdef123456789012345 end"),
      // phone: digit groups are 3-3-4 (<9 consecutive), so no digit_run
      (3L, "call 555-123-4567 now"),
      (4L, "no sensitive content here at all"),
      // identifier-boundary guard: "task_" contains "sk_" and "monkey_"
      // contains "key_" — neither is a secret; a true secret at string
      // START (no preceding char) must still fire
      (5L, "ids task_abcdefghijklmnop monkey_abcdefghijklmnop stay"),
      (6L, "sk_abcdefghijklmnop leads")
    ).toDF("doc_id", "text")
    val got = TextStats.piiScrub(d, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == (1L, 1L, 0L, 0L, 1L, "mail [EMAIL] end"), s"${got(1L)}")
    assert(got(2L) == (2L, 0L, 1L, 0L, 1L, "key [SECRET] end"), s"${got(2L)}")
    assert(got(3L) == (3L, 0L, 0L, 1L, 0L, "call [PHONE] now"), s"${got(3L)}")
    assert(got(4L) == (4L, 0L, 0L, 0L, 0L, "no sensitive content here at " +
      "all"), s"${got(4L)}")
    assert(got(5L) == (5L, 0L, 0L, 0L, 0L,
      "ids task_abcdefghijklmnop monkey_abcdefghijklmnop stay"), s"${got(5L)}")
    assert(got(6L) == (6L, 0L, 1L, 0L, 0L, "[SECRET] leads"), s"${got(6L)}")
  }

  test("token count handles whitespace edge cases") {
    val got = Seq(("", 0L), ("  ", 0L), ("a", 1L), (" a  b\tc\nd ", 4L))
      .toDF("text", "expected")
      .select(GraftFunctions.token_count($"text").as("got"), $"expected")
      .collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("winnowed fingerprints detect a shared span at shifted offsets") {
    // ~100-char shared span >= w + k - 1 = 23, planted at DIFFERENT byte
    // offsets (the case aligned-chunk span dedup misses); doc 3 is built
    // from a disjoint byte alphabet so no 8-gram can collide with 1/2.
    val span = "SHARED-BOILERPLATE-LICENSE-HEADER-0123456789-" * 3
    val d = Seq(
      (1L, "unique preamble alpha beta gamma " + span + " short tail"),
      (2L, "a much longer and completely different lead-in text before " +
        span),
      (3L, "zzzz" * 40)
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowedSpanPairs(d, "doc_id", "text",
        shingleK = 8, window = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"shared span missed: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"false positive with disjoint-alphabet doc: $pairs")
  }

  test("winnowed fingerprint df cap drops corpus-wide boilerplate pairs") {
    val boiler = "COMMON-FOOTER-APPENDED-EVERYWHERE-" * 3
    val d = (1L to 6L).map(i => (i, s"doc $i body ${"u" * i.toInt * 8} " +
      boiler)).toDF("doc_id", "text")
    val uncapped = Dedup.winnowedSpanPairs(d, "doc_id", "text")
      .count()
    val capped = Dedup.winnowedSpanPairs(d, "doc_id", "text",
      maxFingerprintDf = Some(3L)).count()
    assert(uncapped == 15L, s"boilerplate should pair all 15: $uncapped")
    assert(capped < uncapped, s"df cap must prune boilerplate: $capped")
  }

  test("bloom-pruned join is exactly the plain join; members always pass") {
    val probe = (0L until 5000L).map(i => (i % 997L, i)).toDF("k", "payload")
    val build = (0L until 997L).filter(_ % 13 == 0).map(k => (k, s"b$k"))
      .toDF("k", "tag")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "payload", "tag").as[(Long, Long, String)].collect().toSet
    val pruned = rows(Joins.bloomPrunedJoin(probe, build, "k",
      expectedKeys = 1024))
    val plain = rows(probe.join(build, "k"))
    assert(pruned == plain, "bloom pruning changed the join result")
    // the semi-filter never drops a member (no false negatives) and prunes
    // most non-members at fpp=0.0039
    val kept = Joins.bloomSemiFilter(probe, build, "k", expectedKeys = 1024)
      .select("k").as[Long].collect()
    val members = build.select("k").as[Long].collect().toSet
    assert(plain.map(_._1).subsetOf(kept.toSet), "member key dropped")
    val nonMemberSurvivors = kept.count(!members.contains(_))
    assert(nonMemberSurvivors <= 200,
      s"bloom pruned too little: $nonMemberSurvivors non-members survived")
  }

  test("blob routing: >1 MB filters take the broadcast route, same result") {
    val probe = (0L until 3000L).map(i => (i % 499L, i)).toDF("k", "payload")
    val build = (0L until 499L).filter(_ % 7 == 0).map(k => (k, s"b$k"))
      .toDF("k", "tag")
    // expectedKeys 1<<20 at fpp 0.0039 sizes the blob to ~1.4 MB — above
    // IxfBlobs.LiteralMaxBytes, so the predicate must resolve through the
    // TorrentBroadcast token, never a multi-MB Literal
    val before = graft.functions.IxfBlobs.liveTokens
    val big = Joins.bloomSemiFilter(probe, build, "k",
      expectedKeys = 1L << 20)
    assert(graft.functions.IxfBlobs.liveTokens == before,
      "broadcast token leaked after plan construction")
    // analyzed plan (ConvertToLocalRelation folds the filter over this
    // in-memory relation before the physical plan; parquet scans keep it)
    val planBig = big.queryExecution.analyzed.toString
    assert(planBig.contains("graft_bloom_contains_bcast"),
      s"large blob did not take the broadcast route:\n$planBig")
    val small = Joins.bloomSemiFilter(probe, build, "k",
      expectedKeys = 1024)
    val planSmall = small.queryExecution.analyzed.toString
    assert(planSmall.contains("graft_bloom_contains") &&
      !planSmall.contains("graft_bloom_contains_bcast"),
      s"small blob should stay a literal probe:\n$planSmall")
    // both routes keep every member (no false negatives) and agree with
    // the exact semi-join on this corpus
    def kept(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "payload").as[(Long, Long)].collect().toSet
    val members = build.select("k").as[Long].collect().toSet
    val exact = kept(probe.where($"k".isin(members.toSeq: _*)))
    assert(exact.subsetOf(kept(big)), "broadcast route dropped a member")
    assert(exact.subsetOf(kept(small)), "literal route dropped a member")
    // big-filter pruned join still byte-equals the plain join
    val prunedBig = Joins.bloomPrunedJoin(probe, build, "k",
        expectedKeys = 1L << 20)
      .select("k", "payload", "tag").as[(Long, Long, String)].collect().toSet
    val plain = probe.join(build, "k")
      .select("k", "payload", "tag").as[(Long, Long, String)].collect().toSet
    assert(prunedBig == plain)
  }

  test("interleave assembly enforces its driver byte budget loudly") {
    val corpus = Seq(
      ("gA", "alpha beta gamma delta epsilon zeta eta theta " * 12),
      ("gB", "one two three four five six seven eight nine ten " * 12)
    ).toDF("group", "text")
    val queries = Seq(
      (1L, "one two three four five six seven eight nine ten " * 6)
    ).toDF("query_id", "text")
    val filters = Classify.buildFilters(corpus,
      expectedShinglesPerGroup = 4096)
    val e = intercept[IllegalArgumentException] {
      Classify.interleavedSketchWithFilters(filters, queries,
        maxBlobBytes = 64L)
    }
    assert(e.getMessage.contains("hierarchicalSketchWithFilters"),
      s"budget error must name the fallback: ${e.getMessage}")
    // within budget the probe works and releases its token
    val before = graft.functions.IxfBlobs.liveTokens
    val ok = Classify.interleavedSketchWithFilters(filters, queries)
      .select("query_id", "group").as[(Long, String)].collect().toSet
    assert(ok == Set((1L, "gB")))
    assert(graft.functions.IxfBlobs.liveTokens == before,
      "interleave token leaked after plan construction")
  }

  test("weighted sampling excludes null and non-positive weights") {
    val rows = Seq((1L, 10L), (2L, 0L), (3L, -5L), (4L, 10L))
      .toDF("id", "w")
      .union(Seq((5L, null.asInstanceOf[java.lang.Long]))
        .toDF("id", "w"))
      .withColumn("g", lit("s"))
    val got = Sampling.weightedBottomK(rows, Seq("g"), "id", "w", k = 10)
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 4L),
      s"non-positive/null weights must be excluded, got $got")
  }

  test("hash split rejects weights below the 1/256 granularity") {
    val rows = (0L until 100L).map(i => (i, "x")).toDF("id", "pad")
    val e = intercept[IllegalArgumentException] {
      Sampling.hashSplit(rows, "id", Seq("a" -> 0.001, "b" -> 0.999))
    }
    assert(e.getMessage.contains("granularity"), e.getMessage)
    // the LAST split takes everything at or above its bound — a tiny tail
    // weight is representable (gets bucket 0xff) and must NOT be rejected
    val tail = Sampling.hashSplit(rows, "id", Seq("a" -> 0.999, "b" -> 0.001))
    assert(tail.select("split").distinct().count() >= 1)
  }

  test("cross-corpus contamination scan flags the leaked eval doc only") {
    val leak = "THE-EVAL-QUESTION-AND-ITS-ANSWER-TEXT-9876543210-" * 3
    val train = Seq(
      (100L, "training document alpha with ordinary content " + leak),
      (101L, "another training doc, no overlap, plain body text here"),
      (102L, "yyyy" * 40)
    ).toDF("doc_id", "text")
    val heldout = Seq(
      (1L, "eval prompt preamble " + leak + " trailing context"),
      (2L, "clean eval item with its own unique wording qqqq" * 4)
    ).toDF("doc_id", "text")
    val got = Dedup.crossSpanContamination(train, "doc_id",
        heldout, "doc_id", "text")
      .select("train_id", "heldout_id").as[(Long, Long)].collect().toSet
    assert(got.contains((100L, 1L)), s"leaked pair missed: $got")
    assert(!got.exists(_._2 == 2L), s"clean eval doc flagged: $got")
    assert(!got.exists(p => p._1 == 102L), s"disjoint-alphabet doc flagged: $got")
  }

  test("bottom-k sample is deterministic, stratified, and mergeable") {
    val rows = (0L until 200L).map(i => (i, s"s${i % 4}"))
      .toDF("id", "stratum")
    def ids(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
      df.select("stratum", "id").as[(String, Long)].collect().toSet
    val s1 = Sampling.bottomK(rows, Seq("stratum"), "id", 5)
    val s2 = Sampling.bottomK(rows.repartition(13), Seq("stratum"), "id", 5)
    assert(ids(s1) == ids(s2), "sample must be partitioning-invariant")
    val perStratum = s1.groupBy("stratum").count()
      .as[(String, Long)].collect().toMap
    assert(perStratum.values.forall(_ == 5L), s"quota violated: $perStratum")
    // mergeable min-k law: bottomK(bottomK(A) ∪ bottomK(B)) == bottomK(A ∪ B)
    val a = rows.where($"id" < 100L)
    val b = rows.where($"id" >= 100L)
    val merged = Sampling.bottomK(
      Sampling.bottomK(a, Seq("stratum"), "id", 5).drop("rk")
        .union(Sampling.bottomK(b, Seq("stratum"), "id", 5).drop("rk")),
      Seq("stratum"), "id", 5)
    assert(ids(merged) == ids(s1), "min-k merge law violated")
    // a group smaller than k returns the whole group
    val small = Sampling.bottomK(rows.where($"id" < 3L),
      Seq("stratum"), "id", 5)
    assert(small.count() == 3L)
  }

  test("hash split is stable, rate-correct, and append-invariant") {
    val rows = (0L until 2000L).map(i => (i, i.toString)).toDF("id", "pad")
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def splits(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      Sampling.hashSplit(df, "id", w).select("id", "split")
        .as[(Long, String)].collect().toMap
    val full = splits(rows)
    assert(splits(rows.repartition(17)) == full, "not partitioning-invariant")
    // appending rows never moves an existing row's assignment
    val half = splits(rows.where($"id" < 1000L))
    assert(half.forall { case (id, sp) => full(id) == sp },
      "rows migrated between splits on append")
    // observed rates within ±3% of requested at n=2000 (256-bucket grain
    // contributes <= 1/256 of deterministic skew per boundary)
    val rates = full.values.groupBy(identity).view.mapValues(_.size / 2000.0)
    w.foreach { case (name, wt) =>
      assert(math.abs(rates.getOrElse(name, 0.0) - wt) <= 0.03,
        s"$name rate ${rates.get(name)} far from $wt")
    }
    // single-weight degenerate case assigns everything
    val one = Sampling.hashSplit(rows, "id", Seq("all" -> 1.0))
      .select("split").distinct().as[String].collect().toSeq
    assert(one == Seq("all"))
  }

  test("rate sampling is nested, append-stable, and drops unlisted groups") {
    val rows = (0L until 900L).map(i => (i, s"g${i % 3}")).toDF("id", "g")
    def ids(rates: Seq[(String, Double)], df: org.apache.spark.sql.DataFrame = rows) =
      Sampling.rateSample(df, "g", rates, "id")
        .select("id").as[Long].collect().toSet
    val low = ids(Seq("g0" -> 0.05, "g1" -> 1.0))
    val high = ids(Seq("g0" -> 0.2, "g1" -> 1.0))
    assert(low.subsetOf(high),
      "raising a rate must only ADD documents (nested samples)")
    assert(!rows.as[(Long, String)].collect()
      .exists(r => r._2 == "g2" && low.contains(r._1)),
      "unlisted group leaked into the sample")
    // rate 1.0 keeps the whole listed group
    assert(ids(Seq("g1" -> 1.0)).size == 300)
    // observed g0 rate near 5% (256-bucket granularity: floor(.05*256)=12
    // buckets → 12/256 = 4.7% expected)
    val g0 = low.count(_ % 3 == 0)
    assert(g0 >= 3 && g0 <= 35, s"g0 rate implausible: $g0 of 300")
    assert(ids(Seq("g0" -> 0.05, "g1" -> 1.0), rows.repartition(13)) == low,
      "not partitioning-invariant")
    val e = intercept[IllegalArgumentException] {
      Sampling.rateSample(rows, "g", Seq("g0" -> 0.001), "id")
    }
    assert(e.getMessage.contains("granularity"), e.getMessage)
  }

  test("token budget fills per stratum in hash order, nested across budgets") {
    val rows = (0L until 200L).map(i => (i, s"s${i % 2}", 10L + i % 7))
      .toDF("id", "g", "w")
      .union(Seq((900L, "s0", 0L), (901L, "s1", -5L)).toDF("id", "g", "w"))
    def sel(budget: Long) = Sampling
      .tokenBudget(rows, Seq("g"), "id", "w", budget)
      .select("g", "id", "w", "cum_w")
      .as[(String, Long, Long, Long)].collect()
    val got = sel(300)
    // budget respected per stratum; the NEXT hash-ordered row would exceed
    got.groupBy(_._1).foreach { case (g, rs) =>
      val maxCum = rs.map(_._4).max
      assert(maxCum <= 300, s"$g over budget: $maxCum")
      assert(rs.map(_._3).sum == maxCum, s"$g cumsum inconsistent")
    }
    assert(got.nonEmpty && got.length < 60, s"cutoff not applied: ${got.length}")
    // nested: a bigger budget only adds rows
    assert(got.map(_._2).toSet.subsetOf(sel(600).map(_._2).toSet))
    // non-positive weights excluded
    assert(!got.exists(r => r._2 == 900L || r._2 == 901L))
    // deterministic under repartitioning
    val re = Sampling
      .tokenBudget(rows.repartition(11), Seq("g"), "id", "w", 300)
      .select("id").as[Long].collect().toSet
    assert(re == got.map(_._2).toSet)
  }

  test("global bottom-k equals the single-window ranking") {
    val rows = (0L until 500L).map(i => (i, "x")).toDF("id", "pad")
    val got = Sampling.bottomKGlobal(rows, "id", 20)
      .select("id").as[Long].collect().toSet
    val want = rows
      .withColumn("h", md5(concat(lit("graft:"), $"id".cast("string"))))
      .orderBy("h", "id").limit(20).select("id").as[Long].collect().toSet
    assert(got == want)
    assert(got.size == 20)
  }

  test("packWindows: contiguous stream, boundary spans, repartition-stable") {
    val rows = (0L until 40L).map(i => (i, s"s${i % 2}", 100L + i % 7))
      .toDF("doc_id", "src", "n_tok")
    val got = Sampling
      .packWindows(rows, Seq("src"), "doc_id", "n_tok", ctxTokens = 256)
      .select("src", "doc_id", "n_tok", "pack_start", "window_id",
        "window_off", "n_windows")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    // per stratum: offsets form one gapless concatenated stream
    got.groupBy(_._1).foreach { case (src, rs) =>
      val byStart = rs.sortBy(_._4)
      assert(byStart.head._4 == 0L, s"$src stream must start at 0")
      byStart.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 + a._3 == b._4, s"$src gap between $a and $b")
        case _ => ()
      }
      // window arithmetic is consistent per row
      rs.foreach { r =>
        assert(r._5 == r._4 / 256 && r._6 == r._4 % 256)
        assert(r._7 == (r._4 + r._3 - 1) / 256 - r._5 + 1)
      }
      // ~103-token docs in 256-token windows: boundary spans must occur
      assert(rs.exists(_._7 == 2), s"$src no boundary-crossing doc")
    }
    // deterministic under repartitioning
    val re = Sampling
      .packWindows(rows.repartition(7), Seq("src"), "doc_id", "n_tok", 256)
      .select("doc_id", "pack_start").as[(Long, Long)].collect().toMap
    assert(got.map(r => r._2 -> r._4).toMap == re)
    // zero/null token docs are excluded, not packed at offset 0
    val withBad = rows.unionByName(
      Seq((900L, "s0", 0L)).toDF("doc_id", "src", "n_tok"))
    assert(Sampling.packWindows(withBad, Seq("src"), "doc_id", "n_tok", 256)
      .where($"doc_id" === 900L).count() == 0)
  }

  test("frozen split scheme replays byte-identically, legacy tag included") {
    val rows = (0L until 400L).map(i => (i, s"d$i")).toDF("doc_id", "x")
    val dir = java.nio.file.Files.createTempDirectory("graft-split").toString
    val ws = Seq("train" -> 0.8, "val" -> 0.2)
    // a split frozen under the PRE-r4 hash domain records its legacy tag
    Sampling.saveSplitScheme(spark, dir, ws, seed = "s9", domainTag = ":")
    val want = Sampling
      .hashSplit(rows, "doc_id", ws, seed = "s9", domainTag = ":")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val got = Sampling.hashSplitFromScheme(rows, "doc_id", dir)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(got == want)
    // ...which is NOT the default-tag assignment — the silent ~255/256
    // reassignment the frozen scheme exists to prevent
    val modern = Sampling.hashSplit(rows, "doc_id", ws, seed = "s9")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(got != modern)
    // wrong-kind manifest dirs fail loudly, never silently re-split
    val dir2 = java.nio.file.Files.createTempDirectory("graft-split2").toString
    graft.sources.SketchTable.saveManifestOnly(spark, dir2,
      Map("kind" -> "ivf"))
    intercept[IllegalArgumentException] {
      Sampling.hashSplitFromScheme(rows, "doc_id", dir2)
    }
  }

  test("exportShards: a permutation into shards, repartition-stable, frozen") {
    val rows = (0L until 400L).map(i => (i, s"d$i")).toDF("doc_id", "x")
    val got = Sampling.exportShards(rows, "doc_id", nShards = 8)
      .select("doc_id", "shard", "ord")
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    // every row lands in exactly one shard; ordinals are contiguous 1..n
    assert(got.size == 400 && got.map(_._1).distinct.size == 400)
    assert(got.forall { case (_, s, _) => s >= 0 && s < 8 })
    got.groupBy(_._2).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted == (1L to rs.size).toSeq)
    }
    // shards are hash-uniform enough to be per-reader streams (loose
    // bound: 400/8 = 50 expected; none empty, none > 2x expected)
    val sizes = got.groupBy(_._2).values.map(_.size)
    assert(sizes.size == 8 && sizes.forall(s => s > 0 && s <= 100))
    // byte-stable under repartitioning — the property rand() lacks
    val re = Sampling.exportShards(rows.repartition(7), "doc_id", 8)
      .select("doc_id", "shard", "ord")
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    assert(re == got)
    // frozen scheme replays verbatim; wrong-kind dirs fail loudly
    val dir = java.nio.file.Files.createTempDirectory("graft-exp").toString
    Sampling.saveExportScheme(spark, dir, nShards = 8)
    val replay = Sampling.exportShardsFromScheme(rows, "doc_id", dir)
      .select("doc_id", "shard", "ord")
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    assert(replay == got)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-exp2").toString
    graft.sources.SketchTable.saveManifestOnly(spark, dir2,
      Map("kind" -> "hash_split"))
    intercept[IllegalArgumentException] {
      Sampling.exportShardsFromScheme(rows, "doc_id", dir2)
    }
    // reserved output columns collide loudly, never silently overwrite
    intercept[IllegalArgumentException] {
      Sampling.exportShards(rows.withColumn("shard", lit(1)), "doc_id", 8)
    }
    // the frozen artifact writer: one shard=<s>/ dir per shard (reader r
    // prunes to its own directory), rows in ord order, scheme at the root
    val art = java.nio.file.Files.createTempDirectory("graft-exp3").toString
    Sampling.writeShards(rows, "doc_id", art, nShards = 8)
    val shardDirs = new java.io.File(s"$art/data").listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(shardDirs.toSeq == (0 until 8).map(s => s"shard=$s"))
    val s3 = spark.read.parquet(s"$art/data/shard=3")
      .select("doc_id", "ord").as[(Long, Long)].collect().toSeq
    assert(s3 == got.filter(_._2 == 3).sortBy(_._3).map(r => (r._1, r._3)))
    val fromArt = Sampling.exportShardsFromScheme(rows, "doc_id", art)
      .select("doc_id", "shard", "ord")
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    assert(fromArt == got)
  }

  test("temperatureSample flattens skewed sources with in-plan exact buckets") {
    // 400/100/25 rows: alpha = 0.5 buckets are floor(sqrt(25/n)*256) =
    // 64/128/256 — the smallest source keeps everything (downsample-only)
    val rows = ((0L until 400L).map(i => (i, "web")) ++
      (400L until 500L).map(i => (i, "code")) ++
      (500L until 525L).map(i => (i, "math"))).toDF("doc_id", "source")
    val expect = Map("web" -> 64, "code" -> 128, "math" -> 256)
    val got = Sampling.temperatureSample(rows, "source", "doc_id")
      .select("doc_id", "source", "temp_bucket")
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    assert(got.map(r => r._2 -> r._3).toMap == expect)
    // kept set = exactly the rows whose first md5 byte clears the bucket
    def hv(id: Long): Int = java.security.MessageDigest.getInstance("MD5")
      .digest(s"graft#temp:$id".getBytes("UTF-8"))(0) & 0xff
    def src(id: Long): String =
      if (id < 400) "web" else if (id < 500) "code" else "math"
    val want = (0L until 525L).filter(id => hv(id) < expect(src(id)))
      .map(id => (id, src(id)))
    assert(got.map(r => (r._1, r._2)) == want)
    assert(got.count(_._2 == "math") == 25)
    // byte-stable under repartitioning, like every sampler in the family
    val re = Sampling.temperatureSample(rows.repartition(7), "source", "doc_id")
      .select("doc_id", "source", "temp_bucket")
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    assert(re == got)
    // nested across alpha: a hotter (more size-proportional) mixture only
    // ADDS rows on top of a flatter one
    val hotter = Sampling
      .temperatureSample(rows, "source", "doc_id", alpha = 0.75)
      .select("doc_id").as[Long].collect().toSet
    assert(got.map(_._1).toSet.subsetOf(hotter))
    // alpha = 1 is the size-proportional mixture: keep everything
    assert(Sampling.temperatureSample(rows, "source", "doc_id", alpha = 1.0)
      .count() == 525)
    // null groups have no size to derive a rate from — dropped
    val withNull = rows.union(
      Seq((999L, null.asInstanceOf[String])).toDF("doc_id", "source"))
    assert(!Sampling.temperatureSample(withNull, "source", "doc_id")
      .select("doc_id").as[Long].collect().contains(999L))
    intercept[IllegalArgumentException] {
      Sampling.temperatureSample(rows, "source", "doc_id", alpha = 0.0)
    }
  }

  test("clusterBalancedSample caps each cell at k, deterministically") {
    GraftFunctions.register(spark)
    // 3 well-separated one-hot directions with very unequal cluster
    // sizes (60/25/5) — the imbalance the operator exists to flatten
    def unit(c: Int): Array[Float] = {
      val b = Array.fill(12)(0.02f); b(c * 4) = 1f; b
    }
    val sizes = Seq(60, 25, 5)
    val corpus = (for (c <- 0 until 3; j <- 0 until sizes(c))
      yield (c * 1000L + j, unit(c).map(_ * (1f + 0.01f * j)).toSeq))
      .toDF("id", "vec")
    val cents: Seq[Seq[Float]] =
      Seq(unit(0).toSeq, unit(1).toSeq, unit(2).toSeq)
    val got = Similarity.clusterBalancedSample(corpus, cents, k = 10)
      .as[(Long, Int, Int)].collect().sortBy(r => (r._2, r._3)).toSeq
    // dominant cells cap at k; the small cell keeps all 5 members —
    // 25 rows total where a uniform 25-row sample would draw ~17/7/1
    assert(got.size == 25)
    val perCell = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(perCell.values.toSeq.sorted == Seq(5, 10, 10))
    // members sample from their OWN cluster (scale-invariant cosine:
    // cluster c is exactly the ids in [c*1000, c*1000+size))
    assert(got.forall { case (id, cell, _) =>
      (id / 1000L) == sizes.indices.find(c =>
        cents(cell)(c * 4) == 1f).get })
    // the cap layer IS bottomK: byte-identity vs the explicit composition
    val cells = corpus.withColumn("cell",
      element_at(graft.GraftFunctions.nearest_centroids(col("vec"),
        typedLit(cents), 1), 1))
    val want = Sampling.bottomK(cells, Seq("cell"), "id", 10)
      .select(col("id"), col("cell"), col("rk"))
      .as[(Long, Int, Int)].collect().sortBy(r => (r._2, r._3)).toSeq
    assert(got == want)
    // the hash-picked convenience variant returns a valid capped sample
    val auto = Similarity.clusterBalancedSample(corpus, nCentroids = 4,
      k = 10).as[(Long, Int, Int)].collect()
    assert(auto.groupBy(_._2).values.forall(_.size <= 10))
    assert(auto.map(_._1).toSet.subsetOf(
      corpus.select("id").as[Long].collect().toSet))
  }

  test("salted and skew-split joins equal the plain join on a skewed key") {
    // planted skew: key "hot" carries 80% of the big side
    val big = (0L until 1000L)
      .map(i => (if (i < 800) "hot" else s"c${i % 7}", i))
      .toDF("k", "v")
    val small = Seq(("hot", 1L), ("c0", 2L), ("c3", 3L), ("c6", 4L),
      ("absent", 9L)).toDF("k", "attr")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
      df.select("k", "v", "attr").as[(String, Long, Long)]
        .collect().sorted.toSeq
    val want = canon(big.join(small, "k"))
    assert(canon(Joins.saltedJoin(big, small, "k", buckets = 8)) == want)
    // skew-split: force the hot key over the sampled threshold
    assert(canon(Joins.skewSplitJoin(big, small, "k", buckets = 8,
      hotKeyMinRows = 400, sampleFraction = 0.5)) == want)
    // degenerate paths: one bucket == plain salted layout; no hot keys
    assert(canon(Joins.saltedJoin(big, small, "k", buckets = 1)) == want)
    assert(canon(Joins.skewSplitJoin(big, small, "k", buckets = 8,
      hotKeyMinRows = 100000, sampleFraction = 0.5)) == want)
    // hotKeyMinRows < 2/sampleFraction used to truncate the sampled
    // threshold to 0, silently classifying EVERY sampled key hot — now a
    // loud precondition failure
    intercept[IllegalArgumentException] {
      Joins.skewSplitJoin(big, small, "k", buckets = 8,
        hotKeyMinRows = 30, sampleFraction = 0.02)
    }
  }

  test("char-trigram LM: Laplace-smoothed scores match hand computation") {
    val model = TextStats.charNgramCounts(Seq("ababa").toDF("text"), "text", 3)
    assert(model.as[(String, Long)].collect().toMap ==
      Map("aba" -> 2L, "bab" -> 1L))
    val docs = Seq((1L, "abab"), (2L, "zzz"), (3L, "ab"))
      .toDF("doc_id", "text")
    val got = TextStats.lmScore(docs, "doc_id", "text", model, 3)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // "abab": P(aba)=(2+1)/(2+96), P(bab)=(1+1)/(1+96);
    // round(3e9/98)=30612245, round(2e9/97)=20618557
    assert(got(1L)._2 == 2L && got(1L)._3 == 51230802L, s"${got(1L)}")
    assert(math.abs(got(1L)._4 -
      (math.log(98.0 / 3) + math.log(97.0 / 2))) < 1e-9)
    // unseen gram AND unseen context: P = 1/96
    assert(got(2L)._2 == 1L && got(2L)._3 == 10416667L, s"${got(2L)}")
    assert(math.abs(got(2L)._4 - math.log(96.0)) < 1e-9)
    // shorter than n: zero positions, row preserved (F4)
    assert(got(3L) == (3L, 0L, 0L, 0.0), s"${got(3L)}")
  }

  test("bpeTrain: hand-traced merges, tie-break, boundary adjacency") {
    // classic corpus: low:3, lower:1, lowest:1 — step 1 ties (l,o) with
    // (o,w) at 5 and the lexicographic tie-break picks "l o"
    val d = Seq("low lower lowest", "low low").toDF("text")
    val got = TextStats.bpeTrain(d, "text", steps = 4)
      .as[(Int, String, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1, "l o", "lo"), (2, "lo w", "low"),
      (3, "low e", "lowe"), (4, "lowe r", "lower")), s"$got")
    // back-to-back occurrences share a boundary space: one replace pass
    // would leave " aa a a " after step 1 and re-learn ("a a") at step 2;
    // the two-pass application yields [aa][aa] and step 2 = ("aa aa")
    val aaaa = Seq("aaaa").toDF("text")
    val got2 = TextStats.bpeTrain(aaaa, "text", steps = 2)
      .as[(Int, String, String)].collect().sortBy(_._1).toSeq
    assert(got2 == Seq((1, "a a", "aa"), (2, "aa aa", "aaaa")), s"$got2")
    // vocabulary exhaustion: single-char words have no pairs — fewer rows
    val tiny = Seq("a b a").toDF("text")
    assert(TextStats.bpeTrain(tiny, "text", steps = 3).count() == 0)
  }

  test("bpeTokenCount: learned merges tokenize docs row-locally") {
    // merges from the hand-traced corpus: low→1 token, lower→1 (fully
    // merged at step 4), lowest→3 (lowe+s+t), unseen word → chars
    val merges = Seq("l o" -> "lo", "lo w" -> "low",
      "low e" -> "lowe", "lowe r" -> "lower")
    val d = Seq(
      (1L, "low lower lowest"),
      (2L, "lowlow"), // within-word back-to-back: [low][low] via two-pass
      (3L, "zzz"),    // no merge applies: 3 char tokens
      (4L, ""), (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextStats.bpeTokenCount(d, "doc_id", "text", merges)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == (1L, 3L, 1L + 1L + 3L), s"${got(1L)}")
    assert(got(2L) == (2L, 1L, 2L), s"${got(2L)}")
    assert(got(3L) == (3L, 1L, 3L), s"${got(3L)}")
    assert(got(4L) == (4L, 0L, 0L), s"${got(4L)}")
    assert(got(5L) == (5L, 0L, 0L), s"${got(5L)}")
  }

  test("boilerplate lines strip per source, order-preserving, F4 posture") {
    val d = Seq(
      (1L, "web", "HEADER\nalpha\nFOOTER"),
      (2L, "web", "HEADER\nbeta\nFOOTER"),
      (3L, "web", "HEADER\ngamma unique\nonly here"),
      (6L, "web", "HEADER\nFOOTER"), // fully boilerplate — must survive
      (8L, "web", null), // NULL text — F4: must survive as one empty line
      // same literal line in ANOTHER source stays: thresholds are
      // per-source (1 of 2 forum docs < minDocs = 2)
      (4L, "forum", "HEADER\ndelta"),
      (5L, "forum", "sig\nepsilon")
    ).toDF("doc_id", "source", "text")
    val got = Dedup.stripBoilerplateLines(d, "doc_id", "text", "source",
        minFrac = 0.5, minDocs = 2)
      .select("doc_id", "n_lines", "n_removed", "cleaned")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // web: 5 docs, threshold max(2, ceil(2.5)) = 3 — HEADER (4) and
    // FOOTER (3) are boilerplate, every body line is unique; the NULL
    // doc's lone empty line (1 < 3) is not
    assert(got(1L) == (1L, 3L, 2L, "alpha"), s"${got(1L)}")
    assert(got(2L) == (2L, 3L, 2L, "beta"), s"${got(2L)}")
    assert(got(3L) == (3L, 3L, 1L, "gamma unique\nonly here"), s"${got(3L)}")
    assert(got(6L) == (6L, 2L, 2L, ""), s"${got(6L)}")
    assert(got(8L) == (8L, 1L, 0L, ""), s"${got(8L)}")
    assert(got(4L) == (4L, 2L, 0L, "HEADER\ndelta"), s"${got(4L)}")
    assert(got(5L) == (5L, 2L, 0L, "sig\nepsilon"), s"${got(5L)}")
  }

  test("semDedup canonicalizes planted embedding clusters like the exact path") {
    GraftFunctions.register(spark)
    // 3 well-separated directions, 40 vectors each as pure POSITIVE
    // SCALAR MULTIPLES of the direction — cosine is scale-invariant, so
    // every member has identical similarity to every candidate centroid
    // and a cluster can never split across cells on a near-tie (the test
    // must be deterministic under any hash-picked centroid set). Lone
    // vectors are one-hot on 13 distinct non-spike dims: lone-lone sim 0,
    // lone-cluster ~0.05 — exact components == the 3 planted clusters.
    def unit(c: Int): Array[Float] = {
      val b = Array.fill(16)(0.05f); b(c * 5) = 1f; b
    }
    val clustered = for (c <- 0 until 3; j <- 0 until 40)
      yield (c * 100L + j, unit(c).map(_ * (1f + 0.01f * j)).toSeq)
    val lone = Seq(1, 2, 3, 4, 6, 7, 8, 9, 11, 12, 13, 14, 15)
      .zipWithIndex.map { case (d, i) =>
        val v = Array.fill(16)(0f); v(d) = 1f; (1000L + i, v.toSeq)
      }
    val corpus = (clustered ++ lone).toDF("id", "vec")
    // explicit well-separated centroids (the 3 cluster directions + 2
    // lone one-hots): each cluster has ONE clearly-nearest cell (sim ~1
    // vs <= 0.14), so blocking provably cannot split a component and the
    // result must EQUAL the exact path. (With hash-picked centroids two
    // members of one duplicate set can both become centroids and split
    // their set between two near-identical cells on float ties — a
    // boundary miss the operator documents; asserted separately below.)
    val cents: Seq[Seq[Float]] = Seq(unit(0).toSeq, unit(1).toSeq,
      unit(2).toSeq,
      Array.tabulate(16)(d => if (d == 1) 1f else 0f).toSeq,
      Array.tabulate(16)(d => if (d == 7) 1f else 0f).toSeq)
    val got = Similarity
      .semDedupWithCentroids(corpus, threshold = 0.9, cents)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    // exact path
    val pairs = corpus.as("a").join(corpus.as("b"), $"a.id" < $"b.id")
      .withColumn("sim", Similarity.cosine($"a.vec", $"b.vec"))
      .where($"sim" >= 0.9)
      .select($"a.id".as("id_a"), $"b.id".as("id_b"))
    val labels = Dedup.connectedMinLabels(pairs)
    val want = corpus.select($"id")
      .join(labels, Seq("id"), "left")
      .select($"id", coalesce($"label", $"id").as("canonical_id"),
        (coalesce($"label", $"id") === $"id").as("is_canonical"))
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    // separated centroids: blocking cannot split a component — equality
    assert(got == want, s"got=${got.take(8)} want=${want.take(8)}")
    // and the exact path itself has the planted shape: 3 canonicals for
    // 120 clustered rows, all lone rows canonical
    assert(want.count(!_._3) == 117)
    assert(want.filter(_._1 >= 1000L).forall(_._3))
    // auto (hash-picked) centroids: boundary misses may split a set but
    // can never merge distinct sets — every non-canonical doc must be a
    // true duplicate of its canonical under the EXACT labels
    val wantCanon = want.map(r => r._1 -> r._2).toMap
    val auto = Similarity.semDedup(corpus, threshold = 0.9, nCentroids = 8)
      .as[(Long, Long, Boolean)].collect()
    auto.filter(!_._3).foreach { case (id, canon, _) =>
      assert(wantCanon(id) == wantCanon(canon),
        s"false merge: $id -> $canon crosses exact components")
    }
  }

  test("conversation integrity flags gaps, duplicate indices, role repeats") {
    val turns = Seq(
      // c0: clean 0..2, user/assistant/user — gapless, no repeats
      ("c0", 0, "user", "hi"), ("c0", 1, "assistant", "hello"),
      ("c0", 2, "user", "bye"),
      // c1: gap (0,2,3) and one adjacent same-role pair (user,user)
      ("c1", 0, "user", "a"), ("c1", 2, "user", "b"),
      ("c1", 3, "assistant", "c"),
      // c2: duplicate turn_idx 1 (double delivery, differing bytes) —
      // the two idx-1 assistant rows are adjacent under (idx, role, text)
      ("c2", 0, "user", "q"), ("c2", 1, "assistant", "r1"),
      ("c2", 1, "assistant", "r2")
    ).toDF("conv_id", "turn_idx", "role", "text")
    val got = Conversations.integrity(turns).orderBy("conv_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getInt(4), r.getBoolean(5), r.getLong(6), r.getLong(7),
        r.getString(8), r.getString(9))).toSeq
    assert(got == Seq(
      ("c0", 3L, 3L, 0, 2, true, 0L, 0L, "user", "user"),
      ("c1", 3L, 3L, 0, 3, false, 0L, 1L, "user", "assistant"),
      ("c2", 3L, 2L, 0, 1, false, 1L, 1L, "user", "assistant")))
  }

  test("conversation dedup groups identical ordered dialogues only") {
    // c10 == c11 in (role, text) sequence (tool/ts identity-irrelevant by
    // contract — not even columns here); c12 differs by one byte; c13
    // has the same SET of turns as c10 but swapped order → distinct.
    val turns = Seq(
      ("c10", 0, "user", "hi"), ("c10", 1, "assistant", "yo"),
      ("c11", 0, "user", "hi"), ("c11", 1, "assistant", "yo"),
      ("c12", 0, "user", "hi"), ("c12", 1, "assistant", "yo!"),
      ("c13", 0, "assistant", "yo"), ("c13", 1, "user", "hi")
    ).toDF("conv_id", "turn_idx", "role", "text")
    val got = Conversations.dedup(turns).orderBy("conv_id")
      .as[(String, String, Boolean)].collect().toSeq
    assert(got == Seq(("c10", "c10", true), ("c11", "c10", false),
      ("c12", "c12", true), ("c13", "c13", true)))
    // fingerprints are partitioning-invariant (sort_array fixes the
    // collect_list order)
    val a = Conversations.fingerprints(turns)
      .orderBy("conv_id").collect().toSeq
    val b = Conversations.fingerprints(turns.repartition(7))
      .orderBy("conv_id").collect().toSeq
    assert(a == b)
  }

  test("conv fingerprint index: probe, idempotent append, kind check") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-conv-fpidx-spec").toString
    val mk = (c: String, x: String) =>
      Seq((c, 0, "user", x), (c, 1, "assistant", x + "!"))
    val idxTurns = (mk("a", "hi") ++ mk("b", "yo"))
      .toDF("conv_id", "turn_idx", "role", "text")
    Conversations.buildFingerprintIndex(idxTurns, dir)
    // probe: a re-ingest of "a" matches it; "c" is unseen
    val probe = (mk("a2", "hi") ++ mk("c", "new"))
      .toDF("conv_id", "turn_idx", "role", "text")
    val got = Conversations.dedupAgainstIndex(probe, dir)
      .orderBy("conv_id").as[(String, String, Boolean)].collect().toSeq
    assert(got == Seq(("a2", "a", true), ("c", null, false)))
    // append is idempotent: fold the probe in twice, index rows stay
    // unique per fingerprint and "a"'s canonical stays first-arrived
    Conversations.appendToFingerprintIndex(probe, dir)
    Conversations.appendToFingerprintIndex(probe, dir)
    val fps = spark.read.parquet(s"$dir/fps")
    assert(fps.count() == fps.select("conv_fp").distinct().count())
    val again = Conversations.dedupAgainstIndex(probe, dir)
      .orderBy("conv_id").as[(String, String, Boolean)].collect().toSeq
    assert(again == Seq(("a2", "a", true), ("c", "c", true)))
    // wrong-kind dirs fail loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstIndex(probe.withColumn("doc_id", lit(1L)),
        "doc_id", "text", dir)
    }
    assert(e.getMessage.contains("kind"))
  }

  test("sessionize splits on inactivity gaps, 0-based per conversation") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val turns = Seq(
      // c0: gaps 10, 400 (split), 20 → sessions 0,0,1,1
      ("c0", 0, "user", "a", ts(1000)), ("c0", 1, "assistant", "b", ts(1010)),
      ("c0", 2, "user", "c", ts(1410)), ("c0", 3, "assistant", "d", ts(1430)),
      // c1: single turn → session 0
      ("c1", 0, "user", "e", ts(5000))
    ).toDF("conv_id", "turn_idx", "role", "text", "ts")
    val got = Conversations.sessionize(turns, gapSeconds = 300)
      .select("conv_id", "turn_idx", "session_idx")
      .orderBy("conv_id", "turn_idx")
      .as[(String, Int, Long)].collect().toSeq
    assert(got == Seq(("c0", 0, 0L), ("c0", 1, 0L), ("c0", 2, 1L),
      ("c0", 3, 1L), ("c1", 0, 0L)))
  }

  test("topTerms ranks by tf desc, df asc, term asc; text never decides ties") {
    val d = Seq(
      (0L, "apple apple banana cherry cherry date"),
      (1L, "banana banana banana apple date"),
      (2L, "elderberry elderberry fig fig apple")
    ).toDF("doc_id", "text")
    val got = TextStats.topTerms(d, "doc_id", "text", k = 2, minLen = 3)
      .orderBy("doc_id", "rk")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    // doc 0: apple tf=2 df=3, cherry tf=2 df=1 → cherry (rarer) outranks
    assert(got == Seq(
      (0L, "cherry", 2L, 1L, 1L), (0L, "apple", 2L, 3L, 2L),
      (1L, "banana", 3L, 2L, 1L), (1L, "date", 1L, 2L, 2L),
      (2L, "elderberry", 2L, 1L, 1L), (2L, "fig", 2L, 1L, 2L)))
  }

  test("joinSizeEstimate never undercounts and honors its published slack") {
    val a = (1L to 400L).flatMap(k => Seq.fill((k % 5).toInt + 1)(k))
      .toDF("k")
    val b = (200L to 600L).flatMap(k => Seq.fill((k % 3).toInt + 1)(k))
      .toDF("k")
    val exact = a.join(b, "k").count()
    val e = Joins.joinSizeEstimate(a, b, "k", eps = 1e-3, delta = 0.01)
    assert(e.rowsA == a.count() && e.rowsB == b.count())
    assert(e.estimate >= exact, s"undercount: est=${e.estimate} exact=$exact")
    assert(e.estimate <= exact + e.slack,
      s"est=${e.estimate} exact=$exact slack=${e.slack}")
  }

  test("Drift.sparkXxhash64 matches the in-plan xxhash64 on strings") {
    val keys = Seq("", "a", "click", "surge", "héllo wörld", "x" * 100)
    val inPlan = keys.toDF("k")
      .select(col("k"), xxhash64(col("k")).as("h"))
      .as[(String, Long)].collect().toMap
    keys.foreach { k =>
      assert(Drift.sparkXxhash64(k) == inPlan(k), s"hash mismatch for '$k'")
    }
  }

  test("packWithLossMask: contiguous stream, conv-contiguous, masks/spans") {
    val turns = Seq(
      ("c1", 0, "user", "aaaa"), ("c1", 1, "assistant", "bbbbbb"),
      ("c2", 0, "system", "cc"), ("c2", 1, "assistant", "dddddddddd"),
      ("c2", 2, "tool", "") // zero tokens -> excluded from the stream
    ).toDF("conv_id", "turn_idx", "role", "text")
      .withColumn("tok", length(col("text")).cast("long"))
    val got = Conversations.packWithLossMask(turns, "tok", ctxTokens = 8)
      .orderBy("pack_start")
      .select("conv_id", "turn_idx", "pack_start", "window_id",
        "window_off", "n_windows", "trainable")
      .as[(String, Int, Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(got.length == 4 && got.head._3 == 0L)
    val toks = Map(("c1", 0) -> 4L, ("c1", 1) -> 6L,
      ("c2", 0) -> 2L, ("c2", 1) -> 10L)
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(b._3 == a._3 + toks((a._1, a._2)), "stream not contiguous")
    }
    got.foreach { case (c, i, ps, wid, woff, nw, tr) =>
      assert(wid == ps / 8 && woff == ps % 8)
      assert(nw == (ps + toks((c, i)) - 1) / 8 - wid + 1)
      assert(tr == (i == 1), "assistant turns trainable, others masked")
    }
    // a conversation's turns stay adjacent in the stream
    val order = got.map(_._1)
    assert(order.zip(order.tail).count { case (x, y) => x != y } == 1)
    intercept[IllegalArgumentException] {
      Conversations.packWithLossMask(turns, "tok", ctxTokens = 0)
    }
  }

  test("equiDepthBounds balances buckets within rank error") {
    val df = (1 to 50000).map(_.toDouble).toDF("x")
    val bounds = RangeLayout.equiDepthBounds(df, "x", 10)
    assert(bounds.length == 9 && bounds.sameElements(bounds.sorted))
    val counts = df.select(RangeLayout.bucketOf(col("x"), bounds).as("b"))
      .groupBy("b").count().orderBy("b").as[(Long, Long)].collect()
    assert(counts.length == 10)
    val slack = (2 * 3 * (2.296 / 200) * 50000).toLong + 1
    counts.foreach { case (_, c) =>
      assert(math.abs(c - 5000) <= slack, s"bucket mass $c")
    }
    // heavy point mass collapses adjacent quantiles instead of failing
    val cb = RangeLayout.equiDepthBounds(Seq.fill(1000)(7.0).toDF("x"), "x", 4)
    assert(cb.length == 1 && cb(0) == 7.0)
    intercept[IllegalArgumentException] {
      RangeLayout.bucketOf(col("x"), Array(2.0, 1.0))
    }
  }

  test("groupedKsDistance: per-group drift, shared groups only") {
    val r = new scala.util.Random(3)
    val rows = (1 to 4000).map { _ =>
      val g = Seq("p", "q", "only_a")(r.nextInt(3))
      (g, r.nextDouble() * 100.0)
    }
    val a = rows.toDF("g", "x")
    // q shifts by +50, p unchanged; only_b appears on one side only
    val b = rows.filter(_._1 != "only_a")
      .map { case (g, x) => if (g == "q") (g, x + 50.0) else (g, x) }
      .++(Seq(("only_b", 1.0)))
      .toDF("g", "x")
    val got = Drift.groupedKsDistance(a, b, "g", "x")
    assert(got.map(_.group) == Seq("p", "q"), "one-sided groups skipped")
    val byG = got.map(c => c.group -> c).toMap
    assert(byG("p").estimate <= byG("p").slack, s"p=${byG("p").estimate}")
    // +50 shift on U(0,100) has true KS 0.5
    assert(math.abs(byG("q").estimate - 0.5) <= byG("q").slack + 0.05,
      s"q=${byG("q").estimate}")
  }

  test("heavyChange flags planted frequency moves, not stable keys") {
    val before = (Seq.fill(500)("alpha") ++ Seq.fill(300)("beta") ++
      Seq.fill(200)("gamma")).toDF("k")
    val after = (Seq.fill(495)("alpha") ++ Seq.fill(30)("beta") ++
      Seq.fill(200)("gamma") ++ Seq.fill(250)("delta")).toDF("k")
    val got = Drift.heavyChange(before, after, "k", theta = 0.05)
    assert(got.map(_.key) == got.map(_.key).sorted)
    val byKey = got.map(c => c.key -> c).toMap
    // thresholds: theta*(1000+975) ~ 99 — beta (-270) and delta (+250)
    // must flag; alpha (-5) and gamma (0) must not
    assert(byKey("beta").flagged && byKey("delta").flagged)
    assert(!byKey("alpha").flagged && !byKey("gamma").flagged)
    // CMS one-sidedness: estimates never undercount the exact counts
    assert(byKey("delta").estBefore >= 0 && byKey("delta").estAfter >= 250)
    intercept[IllegalArgumentException] {
      Drift.heavyChange(before.select(xxhash64(col("k")).as("k")),
        after, "k", theta = 0.05)
    }
  }

  test("scaledGramHexes kernel equals the md5 Column chain it replaced") {
    // r6: Dedup.scaledFingerprints moved from the CodegenFallback
    // explode(transform(sequence))/md5/threshold/distinct chain to one
    // codegen'd kernel — assert value identity on the awkward inputs:
    // shorter-than-k, exactly-k, repeated grams (within-row dedup),
    // multi-byte UTF-8 (char-substring semantics), null, empty.
    val k = 8
    val docs = Seq(
      (1L, "abcdefghij abcdefghij abcdefghij"), // repeats
      (2L, "short"), // < k chars
      (3L, "exactly8"), // == k chars
      (4L, "héllo wörld — ünïcode payload with ümlauts and émojis ☃"),
      (5L, ""), // empty
      (6L, null.asInstanceOf[String]), // null text
      (7L, ("the quick brown fox jumps over the lazy dog " * 20).trim)
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .scaledFingerprints(docs, "doc_id", "text", k, "40", "graft")
      .as[(Long, String)].collect().toSeq.sorted
    val t = col("text")
    val want = docs.select(col("doc_id").cast("long").as("id"),
        explode(transform(
          sequence(lit(1L),
            greatest(length(t).cast("long") - (k - 1), lit(1L))),
          i => t.substr(i.cast("int"), lit(k)))).as("g"))
      .where(length(col("g")) === k)
      .select(col("id"),
        md5(concat(lit("graft:"), col("g"))).as("gh"))
      .where(substring(col("gh"), 1, 2) < lit("40"))
      .distinct()
      .as[(Long, String)].collect().toSeq.sorted
    assert(got.nonEmpty && got == want)
  }

  test("charNgramCountsWithFlag equals two separate charNgramCounts builds") {
    val docs = Seq(
      ("en", "the cat sat on the mat"),
      ("en", "a cat and a hat"),
      ("de", "die katze sitzt"),
      ("fr", null.asInstanceOf[String]),
      ("en", "xy") // shorter than n: contributes no grams
    ).toDF("lang", "text")
    val combined = TextStats
      .charNgramCountsWithFlag(docs, "text", 3, col("lang") === "en")
    val raw = combined.select(col("gram"), col("cnt"))
      .as[(String, Long)].collect().toSeq.sorted
    val target = combined.where(col("cnt_flagged") > 0)
      .select(col("gram"), col("cnt_flagged"))
      .as[(String, Long)].collect().toSeq.sorted
    val rawWant = TextStats.charNgramCounts(docs, "text", 3)
      .as[(String, Long)].collect().toSeq.sorted
    val targetWant = TextStats
      .charNgramCounts(docs.where(col("lang") === "en"), "text", 3)
      .as[(String, Long)].collect().toSeq.sorted
    assert(raw == rawWant && target == targetWant && target.nonEmpty)
  }

  test("role transitions count adjacency with boundary sentinels") {
    val turns = Seq(
      ("c20", 0, "user", "a"), ("c20", 1, "assistant", "b"),
      ("c20", 2, "user", "c"),
      ("c21", 0, "system", "s"), ("c21", 1, "user", "d")
    ).toDF("conv_id", "turn_idx", "role", "text")
    val got = Conversations.roleTransitions(turns)
      .orderBy("role_from", "role_to")
      .as[(String, String, Long)].collect().toSeq
    assert(got == Seq(
      ("^", "system", 1L), ("^", "user", 1L),
      ("assistant", "user", 1L),
      ("system", "user", 1L),
      ("user", "$", 2L), ("user", "assistant", 1L)))
  }
}
