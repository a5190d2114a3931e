package graft.jobs

import graft.GraftFunctions
import graft.GraftFunctions._
import graft.sources.{SketchCheckpoint, Timing, Transcripts}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** spark-submit entry: checkpoint-resumable sketch build over a transcripts
  * parquet directory (the north-star job).
  *
  * Usage: BuildTranscriptSketches <inputDir|GENERATE:nConvs> <workDir>
  *        [filesPerChunk]
  *
  * Builds, per role: HLL of conv_id (p=14), Bloom over text shingles
  * (fpp=0.0039 XOR-parity), CMS of tool (eps=1e-4), KLL + t-digest of
  * text length — all as per-chunk partials with commit records, then an
  * associative final merge (resume-safe; see SketchCheckpoint). Chunks
  * build side by side, up to one per core, so the `wall_ms` and
  * `rows_per_sec` of a commit record time a chunk that shares the cores,
  * and a kill loses at most the chunks in flight.
  */
object BuildTranscriptSketches {
  val HllP = 14
  val BloomItems: Long = 1L << 20
  val BloomFpp = 0.0039
  val CmsEps = 0.0001
  val CmsDelta = 0.01
  val KllK = 200
  val TdDelta = 100.0

  val ShingleK = 8
  val MinimizerW = 8

  // Bloom over per-turn minimizer hash sets: one hash kept per window of
  // MinimizerW consecutive shingles, so the filter stays within budget at
  // 10^12 turns (minimizer/FracMinHash downsampling, reference
  // taxor_build.cpp:335-340) while remaining probe-compatible with
  // graft_minimizers(text, k, w) on the query side.
  def partialAggs = Seq(
    hll_agg(col("conv_id"), HllP).as("hll_convs"),
    bloom_agg_hashed(minimizers(col("text"), ShingleK, MinimizerW),
      BloomItems, BloomFpp).as("bf_shingles"),
    cms_agg(col("tool"), CmsEps, CmsDelta).as("cms_tools"),
    kll_agg(length(col("text")), KllK).as("kll_len"),
    tdigest_agg(length(col("text")), TdDelta).as("td_len"))

  def mergeAggs = Seq(
    hll_merge_agg(col("hll_convs"), HllP).as("hll_convs"),
    bloom_merge_agg(col("bf_shingles"), BloomItems, BloomFpp).as("bf_shingles"),
    cms_merge_agg(col("cms_tools"), CmsEps, CmsDelta).as("cms_tools"),
    kll_merge_agg(col("kll_len"), KllK).as("kll_len"),
    tdigest_merge_agg(col("td_len"), TdDelta).as("td_len"))

  def main(args: Array[String]): Unit = {
    val input = args(0)
    val workDir = args(1)
    val filesPerChunk = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft-build-sketches")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    val inputDir = if (input.startsWith("GENERATE:")) {
      val n = input.stripPrefix("GENERATE:").toLong
      val dir = s"$workDir/input"
      Transcripts.generate(spark, n).write.mode("overwrite").parquet(dir)
      dir
    } else input
    val timer = new Timing.PhaseTimer
    val t0 = System.nanoTime()
    val out = timer.time("Build") {
      SketchCheckpoint.buildOrResume(
        spark, inputDir, workDir, keys = Seq("role"),
        partialAggs = partialAggs, mergeAggs = mergeAggs,
        filesPerChunk = filesPerChunk)
    }
    val groups = timer.time("Merge read")(out.count())
    val secs = (System.nanoTime() - t0) / 1e9
    // IO10 — reference-style `<out>.time` + CPU/peak-RSS report
    Timing.writeTimeFile(spark, s"$workDir/sketches", timer.phases)
    val (cpu, rss) = Timing.cpuAndPeakRss()
    println(s"""{"groups":$groups,"seconds":$secs,"workDir":"$workDir",""" +
      s""""cpu_sec":$cpu,"peak_rss_mb":$rss}""")
    spark.stop()
  }
}
