package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.{Classify, ProfilePipeline}
import graft.sources.SketchTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** `search`: Taxor's three stages on seeded inputs. The build stage is
  * [[Build]] (sketches of a transcripts table); then the index
  * is a per-bin Bloom filter table over documents split into small bins by
  * doc_id, saved as a sketch table and reloaded with parameter validation.
  * Reads (seeded substrings of the documents with substitutions at 0, 4 and
  * 15 %) are probed with the hierarchical and the interleaved strategy,
  * with the flat probe as the reference, and the matches go through the
  * profile chain. The sketch layer does read-side work here (contains and
  * bulk count), plus broadcast routing and an iterative driver loop. */
final class Search(spark: SparkSession, tracer: Tracer, inputs: String,
    work: String, build: Build) extends Workload {
  val name = "search"
  private val DocsPerBin = 20
  private val ShinglesPerBin = 8192L
  private val Fpp = 0.0039
  private val MinFraction = 0.2
  private val index = s"$work/index"
  private val params = Map("k" -> "8", "fpp" -> Fpp.toString,
    "items" -> ShinglesPerBin.toString)
  private var docs: DataFrame = _
  private var corpus: DataFrame = _
  private var reads: DataFrame = _
  private var nReads = 0L
  private var cleanReads: Map[String, String] = Map.empty
  private var taxonomy: DataFrame = _
  private var matchRows = 0L
  private var nBins = 0L

  def setup(): Unit = {
    import spark.implicits._
    Log.timed("build setup")(build.setup())
    docs = spark.read.parquet(s"$inputs/documents.parquet")
    corpus = docs.select(format_string("bin%05d",
      (col("doc_id") / DocsPerBin).cast("long")).as("group"), col("text"))
    val raw = spark.read.parquet(s"$inputs/reads.parquet")
    reads = raw.select("query_id", "text")
    nReads = reads.count()
    nBins = docs.count() / DocsPerBin
    cleanReads = raw.where(col("error_rate") === 0.0)
      .select("query_id", "src_doc").as[(String, Long)].collect()
      .map { case (q, d) => q -> f"bin${d / DocsPerBin}%05d" }.toMap
    // bins roll up into ten super-groups (by last digit) under one root
    taxonomy = corpus.select(col("group").as("ref")).distinct()
      .withColumn("path", array(
        struct(lit(0).as("rank"), lit("all").as("node")),
        struct(lit(1).as("rank"),
          concat(lit("g"), substring(col("ref"), 8, 1)).as("node")),
        struct(lit(2).as("rank"), col("ref").as("node"))))
      .cache()
    taxonomy.count()
    // warm-up on a quarter of the bins and reads: same code paths
    val (allCorpus, allReads) = (corpus, reads)
    corpus = allCorpus.where(col("group") < f"bin${nBins / 4}%05d")
    reads = allReads.where(col("query_id") < f"r${nReads / 4}%06d")
    Log.timed("read-side warm-up")(readSide())
    corpus = allCorpus
    reads = allReads
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private val steps = mutable.Map[String, (Double, Long)]()
  private def step[T](name: String)(body: => T): T = {
    val (out, wall, id) = tracer.phase("step", name)(body)
    steps(name) = (wall, id)
    out
  }

  def pass(): PassResult = {
    val built = build.pass()
    val read = readSide()
    read.copy(ops = built.ops ++ read.ops)
  }

  /** Index build, the three probes and the profile chain. */
  private def readSide(): PassResult = {
    steps.clear()
    // index: filter build, then save with its manifest
    val (_, indexS, indexId) = tracer.phase("phase", "index_build") {
      val filters = step("build_filters") {
        val f = Classify.buildFilters(corpus,
          expectedShinglesPerGroup = ShinglesPerBin, fpp = Fpp)
          .persist(StorageLevel.MEMORY_AND_DISK)
        noop(f)
        f
      }
      step("sketchtable_save")(SketchTable.save(filters, index, params))
      filters.unpersist()
    }
    // hierarchical probe, including the validated index load
    val ((loaded, hixf), hixfS, hixfId) = tracer.phase("phase", "probe_hixf") {
      val l = step("sketchtable_load") {
        val p = SketchTable.loadValidated(spark, index, params)._1
          .persist(StorageLevel.MEMORY_AND_DISK)
        noop(p)
        p
      }
      (l, step("hixf")(Classify.hierarchicalSketchWithFilters(l, reads,
        minFraction = MinFraction, nBuckets = 0,
        expectedShinglesPerGroup = ShinglesPerBin, fpp = Fpp).collect()))
    }
    val (ixf, ixfS, ixfId) = tracer.phase("phase", "probe_ixf") {
      Classify.interleavedSketchWithFilters(loaded, reads,
        minFraction = MinFraction).collect()
    }
    val ((schema, flat), flatS, flatId) = tracer.phase("phase", "probe_flat") {
      val df = Classify.sketchWithFilters(loaded, reads,
        minFraction = MinFraction)
      (df.schema, df.collect())
    }
    loaded.unpersist()
    matchRows = hixf.length
    val (abund, profS, profId) = tracer.phase("phase", "profile") {
      profile(spark.createDataFrame(hixf.toSeq.asJava, schema)
        .withColumnRenamed("group", "ref"))
    }
    // the three probes agree, every error-free read finds its own bin
    val ref = Workload.canon(flat)
    val probesOk = Workload.canon(hixf) == ref && Workload.canon(ixf) == ref
    val found = hixf.map(r => (r.getString(0), r.getString(1))).toSet
    val cleanOk = cleanReads.forall(found.contains)
    val abundOk = abund.nonEmpty && math.abs(abund.sum - 1.0) < 1e-9
    if (!(probesOk && cleanOk && abundOk)) System.err.println(
      s"[search] check failed: probes=$probesOk clean=$cleanOk " +
        s"abundance=${abund.sum}")
    PassResult(Seq(
      Op("index_build", indexS, true, indexId),
      Op("probe_hixf", hixfS, probesOk && cleanOk, hixfId),
      Op("probe_ixf", ixfS, probesOk, ixfId),
      Op("probe_flat", flatS, true, flatId),
      Op("profile", profS, abundOk, profId)), nReads, hixfS, steps.toMap)
  }

  /** Unique-mapping, low-confidence and association filters, EM with at
    * most 20 iterations, abundance, rollup and the CAMI report. Returns
    * the abundance shares. */
  private def profile(matches: DataFrame): Array[Double] = {
    val resolved = step("cascade") {
      val casc = ProfilePipeline.lowConfidenceFilter(
        ProfilePipeline.uniqueMappingFilter(matches), minUnique = 2,
        minRatio = 0.01)
      val r = ProfilePipeline.associationFilter(
        if (casc.isEmpty) matches else casc).persist()
      noop(r)
      r
    }
    val assigned = step("em") {
      val a = ProfilePipeline.emAssign(resolved, maxIters = 20).persist()
      noop(a)
      a
    }
    val pct = step("report") {
      val abund = ProfilePipeline.abundance(assigned)
      val report = ProfilePipeline.camiReport(
        ProfilePipeline.rollup(abund, taxonomy)).collect()
      require(report.nonEmpty, "empty CAMI report")
      abund.select("pct").collect().map(_.getDouble(0))
    }
    assigned.unpersist(); resolved.unpersist()
    pct
  }

  def detail(passes: Seq[PassResult]): Seq[Metric] = {
    def wall(op: String) = passes.map(_.ops.find(_.name == op).get.wallS)
    build.detail(passes) ++ Seq(
      Metric("index_build_s", Stats.median(wall("index_build")), "s"),
      Metric("search_hixf_reads_per_s",
        Stats.median(wall("probe_hixf").map(nReads / _)), "1/s"),
      Metric("search_ixf_reads_per_s",
        Stats.median(wall("probe_ixf").map(nReads / _)), "1/s"),
      Metric("profile_s", Stats.median(wall("profile")), "s"))
  }

  def layers(passes: Seq[PassResult], tracer: Tracer,
      kernels: Map[String, Double]): Seq[Metric] = {
    def stepS(s: String) = Stats.median(passes.map(_.steps(s)._1))
    def opS(o: String) = Stats.median(passes.map(_.ops.find(_.name == o).get.wallS))
    val em = passes.flatMap(p => tracer.stats(p.steps("em")._2))
    // emAssign runs one collect for its ref list, then one per iteration
    val emIters = em.map(_.actions.getOrElse("collect", 1) - 1.0)
    Seq(
      Metric("operators.classify.build_filters_s", stepS("build_filters"), "s"),
      Metric("operators.classify.hixf_s", stepS("hixf"), "s"),
      Metric("operators.classify.ixf_s", opS("probe_ixf"), "s"),
      Metric("operators.classify.flat_s", opS("probe_flat"), "s"),
      Metric("operators.classify.match_rows", matchRows.toDouble, "count"),
      Metric("operators.profile.cascade_s", stepS("cascade"), "s"),
      Metric("operators.profile.em_s", stepS("em"), "s"),
      Metric("operators.profile.em_iters",
        if (emIters.isEmpty) 0.0 else Stats.median(emIters), "count"),
      Metric("operators.profile.em_jobs",
        if (em.isEmpty) 0.0 else Stats.median(em.map(_.jobs.toDouble)), "count"),
      Metric("sources.sketchtable.save_s", stepS("sketchtable_save"), "s"),
      Metric("sources.sketchtable.load_s", stepS("sketchtable_load"), "s"),
      Metric("sources.sketchtable.bytes", Machine.dirBytes(index).toDouble,
        "bytes")) ++ build.layers(passes, tracer, kernels)
  }

  def kernelItems(): KernelItems = build.kernelItems()

  override def setupExcessS: Double = build.setupExcessS
}
