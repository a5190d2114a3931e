package graftbench

import scala.jdk.CollectionConverters._

import graft.GraftFunctions._
import graft.jobs.BuildTranscriptSketches
import graft.sketch.{Hll, Kll}
import graft.sources.{SketchCheckpoint, Transcripts}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The sketch write path (Taxor's build stage) over a transcripts table
  * generated from the seed: (a) the one-pass six-sketch `GROUP BY role`
  * build and (b) the checkpoint-resumable build of
  * [[BuildTranscriptSketches]] with per-chunk partial writes and commit
  * records. Kernel update, merge and serialization work and the
  * partial-blob shuffle dominate; planning is negligible. The first stage
  * of the `search` workload, which calls its methods. */
final class Build(spark: SparkSession, tracer: Tracer, work: String,
    seed: Long, convs: Long) {
  private val input = s"$work/turns"
  private val warmInput = s"$work/warm"
  private val ckpt = s"$work/ckpt"
  private val FilesPerChunk = 4
  private val InputFiles = 16
  private var turns: DataFrame = _
  private var nTurns = 0L
  private var nShingles = 0L
  private var nTools = 0L
  private var bloomItems = 0L
  private var generateS: Seq[Double] = Nil
  /** Setup seconds spent repeating input generation beyond its median. */
  def setupExcessS: Double = generateS.sum - Stats.median(generateS)
  private var exactConvs: Map[String, Long] = Map.empty
  private var exactTools: DataFrame = _
  private var shingleMembers: DataFrame = _
  private var minimizerMembers: DataFrame = _
  private var lengths: Map[String, Array[(Double, Long)]] = Map.empty

  def setup(): Unit = {
    // input generation is repeated; setup_s counts its median
    generateS = Log.timed("transcripts, 3 times")((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      Transcripts.generate(spark, convs, seed = seed)
        .repartition(InputFiles)
        .write.mode("overwrite").parquet(input)
      (System.nanoTime() - t0) / 1e9
    })
    // warm-up on a quarter of the input: same code paths, less time
    Transcripts.generate(spark, convs / 4, seed = seed + 1)
      .repartition(InputFiles)
      .write.mode("overwrite").parquet(warmInput)
    turns = spark.read.parquet(warmInput)
    bloomItems = 1L << 20
    Log.timed("build warm-up") {
      jobA().collect(); jobA().collect(); jobB(warmInput).collect()
    }
    turns = spark.read.parquet(input)
    val sh = turns.select(col("role"), explode(shingles(col("text"), 8)).as("h"))
    val sums = turns.agg(count(lit(1)), sum(size(shingles(col("text"), 8))),
      count(col("tool"))).first()
    nTurns = sums.getLong(0); nShingles = sums.getLong(1); nTools = sums.getLong(2)
    // Bloom sizing from an HLL pre-pass over the shingles, as graft.Bench
    val est = sh.agg(hll_estimate(hll_agg_hashed(col("h"), 14))).first()
      .getDouble(0)
    bloomItems = math.max(4096L, (est * 1.3).toLong)
    // exact answers the sketches are checked against
    Log.timed("exact answers")(exactAnswers(sh))
  }

  private def exactAnswers(sh: DataFrame): Unit = {
    exactConvs = turns.groupBy("role").agg(countDistinct("conv_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exactTools = turns.where(col("tool").isNotNull)
      .groupBy("role", "tool").agg(count(lit(1)).as("n")).cache()
    exactTools.count()
    shingleMembers = sh.where(pmod(col("h"), lit(4001L)) === 0)
      .distinct().cache()
    shingleMembers.count()
    minimizerMembers = turns
      .select(col("role"), explode(minimizers(col("text"),
        BuildTranscriptSketches.ShingleK, BuildTranscriptSketches.MinimizerW))
        .as("h"))
      .where(pmod(col("h"), lit(401L)) === 0).distinct().cache()
    minimizerMembers.count()
    lengths = turns.groupBy(col("role"), length(col("text")).as("len"))
      .agg(count(lit(1))).collect()
      .groupBy(_.getString(0)).map { case (role, rs) =>
        role -> rs.map(r => (r.getInt(1).toDouble, r.getLong(2))).sortBy(_._1)
      }
  }

  private def jobA(): DataFrame =
    turns.withColumn("sh", shingles(col("text"), 8)).groupBy("role").agg(
      hll_agg(col("conv_id"), 14).as("hll_convs"),
      hll_agg_hashed(col("sh"), 14).as("hll_shingles"),
      bloom_agg_hashed(col("sh"), bloomItems, 0.0039).as("bf_shingles"),
      cms_agg(col("tool"), 0.0001, 0.01).as("cms_tools"),
      kll_agg(length(col("text")), 200).as("kll_len"),
      tdigest_agg(length(col("text")), 100).as("td_len"))

  private def jobB(in: String): DataFrame = {
    Machine.deleteDir(ckpt)
    SketchCheckpoint.buildOrResume(spark, in, ckpt,
      keys = Seq("role"),
      partialAggs = BuildTranscriptSketches.partialAggs,
      mergeAggs = BuildTranscriptSketches.mergeAggs,
      filesPerChunk = FilesPerChunk)
  }

  private var lastPartialBytes = 0L

  def pass(): PassResult = {
    val (a, wallA, idA) = tracer.phase("phase", "a_onepass") {
      val df = jobA(); (df.schema, df.collect())
    }
    val (b, wallB, idB) = tracer.phase("phase", "b_checkpoint") {
      val df = jobB(input); (df.schema, df.collect())
    }
    lastPartialBytes = Machine.dirBytes(s"$ckpt/partials")
    val okA = check(a._1, a._2, shingleMembers, withRows = false)
    val okB = check(b._1, b._2, minimizerMembers, withRows = true)
    PassResult(Seq(Op("a_onepass", wallA, okA, idA),
      Op("b_checkpoint", wallB, okB, idB)), nTurns, wallA)
  }

  /** The published bounds, against exact answers: HLL within 3 standard
    * errors, no Bloom false negative on sampled members, CMS never under
    * the true count and over it by more than eps*N at most a delta share
    * of keys, KLL rank error within its bound; job (b) also sees every
    * row exactly once. */
  private def check(schema: org.apache.spark.sql.types.StructType,
      rows: Array[Row], members: DataFrame, withRows: Boolean): Boolean = {
    val res = spark.createDataFrame(rows.toSeq.asJava, schema)
    val roles = rows.map(_.getAs[String]("role")).toSet
    val hllOk = rows.forall { r =>
      val est = Hll.estimate(r.getAs[Array[Byte]]("hll_convs"))
      val exact = exactConvs(r.getAs[String]("role"))
      math.abs(est - exact) <= 3 * Hll.stdError(14) * exact
    }
    val bloomMisses = members.join(res.select("role", "bf_shingles"), "role")
      .where(!bloom_contains_hashed(col("bf_shingles"), col("h"))).count()
    val cms = exactTools.join(res.select("role", "cms_tools"), "role")
      .select(col("n"), cms_estimate(col("cms_tools"), col("tool")).as("est"),
        cms_total(col("cms_tools")).as("total"))
      .agg(count(lit(1)), sum(when(col("est") < col("n"), 1).otherwise(0)),
        sum(when(col("est") - col("n") > lit(0.0001) * col("total"), 1)
          .otherwise(0)))
      .first()
    val cmsOk = cms.getLong(0) > 0 && cms.getLong(1) == 0 &&
      cms.getLong(2).toDouble / cms.getLong(0) <= 0.01
    val kllOk = rows.forall { r =>
      val kll = Kll.fromBytes(r.getAs[Array[Byte]]("kll_len"))
      val hist = lengths(r.getAs[String]("role"))
      val n = hist.map(_._2).sum.toDouble
      Seq(0.1, 0.25, 0.5, 0.75, 0.9).forall { q =>
        val x = kll.quantile(q)
        val lt = hist.takeWhile(_._1 < x).map(_._2).sum / n
        val le = hist.takeWhile(_._1 <= x).map(_._2).sum / n
        val err = if (q < lt) lt - q else if (q > le) q - le else 0.0
        err <= kll.rankErrorBound
      }
    }
    val rowsOk = !withRows ||
      rows.map(_.getAs[Long]("rows_seen")).sum == nTurns
    val ok = roles == exactConvs.keySet && hllOk && bloomMisses == 0 &&
      cmsOk && kllOk && rowsOk
    if (!ok) System.err.println(s"[build] check failed: roles=$roles " +
      s"hll=$hllOk bloomMisses=$bloomMisses cms=$cms kll=$kllOk rows=$rowsOk")
    ok
  }

  def detail(passes: Seq[PassResult]): Seq[Metric] = {
    def rate(op: String) = Stats.median(passes.map(p =>
      nTurns / p.ops.find(_.name == op).get.wallS))
    Seq(Metric("build_turns_per_s", rate("a_onepass"), "1/s"),
      Metric("ckpt_build_turns_per_s", rate("b_checkpoint"), "1/s"))
  }

  /** Kernel seconds of job (a): one HLL, KLL and t-digest update per
    * turn, one CMS update per turn with a tool, and one HLL and one Bloom
    * update per shingle. */
  private def kernelWork(k: Map[String, Double]): Double =
    (nTurns * (k("sketch.hll.update_ns") + k("sketch.kll.update_ns") +
      k("sketch.tdigest.update_ns")) + nTools * k("sketch.cms.update_ns") +
      nShingles * (k("sketch.hll.update_ns") + k("sketch.bloom.update_ns"))) /
      1e9

  def layers(passes: Seq[PassResult], tracer: Tracer,
      kernels: Map[String, Double]): Seq[Metric] = {
    val n = passes.size.toDouble
    val chunks = SketchCheckpoint.planChunks(spark, input, FilesPerChunk).size
    def ops(name: String) = passes.flatMap(_.ops.filter(_.name == name))
    val gapB = ops("b_checkpoint").map(o => Layers.gapS(tracer, o.phaseId)).sum / n
    Seq(Metric("sources.checkpoint.commit_ms", gapB / chunks * 1000, "ms"),
      Metric("sources.checkpoint.partial_bytes", lastPartialBytes.toDouble,
        "bytes"),
      Metric("sources.transcripts.generate_s", Stats.median(generateS), "s"),
      Metric("sketch.kernel_share", kernelWork(kernels) / (Stats.median(
        ops("a_onepass").map(_.wallS)) * Main.cores), "ratio")) ++
      Layers.agg(tracer, (ops("a_onepass") ++ ops("b_checkpoint"))
        .map(_.phaseId), passes.size)
  }

  def kernelItems(): KernelItems = {
    val sample = turns.where(pmod(xxhash64(col("conv_id")), lit(20)) === 0)
    KernelItems(turns.select(col("text")),
      sample.select(explode(shingles(col("text"), 8))).limit(400000)
        .collect().map(_.getLong(0)),
      sample.where(col("tool").isNotNull).select("tool").limit(200000)
        .collect().map(_.getString(0)),
      sample.select(length(col("text")).cast("double")).limit(200000)
        .collect().map(_.getDouble(0)))
  }
}
