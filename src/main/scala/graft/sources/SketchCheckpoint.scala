package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets

/** Checkpoint-resumable sketch build with per-chunk lineage + metrics.
  *
  * The job splits the input into file chunks; each chunk's partial sketches
  * are written under `workDir/partials/chunk=<id>/` and sealed with an
  * atomically-renamed commit record `workDir/_commits/<id>.json` carrying
  * lineage (input files, row count) and sketch-update metrics (rows/sec,
  * wall ms — chunks run side by side, so these time a chunk while it
  * shares the cores). A kill loses at most the chunks in flight; a rerun
  * re-plans only uncommitted chunks; the final merge
  * reads committed partials and re-merges. For the order-insensitive
  * sketches (HLL/Bloom/CMS — commutative idempotent merges) the resumed
  * result is byte-identical to a single-shot run (proven in CheckpointSpec);
  * KLL and t-digest merges are order-sensitive in bytes (SURVEY §7.4), so
  * their resumed result is identical only up to the published rank-error
  * bound — the chunk grid below fixes the merge ORDER deterministically,
  * which restores byte identity between any two runs of the same chunking.
  *
  * Reference analogue: the HIXF build's temp hash files surviving across
  * build steps (/root/reference/src/hixf/build/temp_hash_file.cpp:9-97) —
  * made transactional, Iceberg-snapshot style (no Iceberg jars offline;
  * SURVEY.md §7.4 keeps this behind a seam).
  */
object SketchCheckpoint {
  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeAtomic(f: FileSystem, path: Path, content: String): Unit = {
    val tmp = new Path(path.getParent, s".${path.getName}.tmp")
    val out = f.create(tmp, true)
    out.write(content.getBytes(StandardCharsets.UTF_8))
    out.close()
    if (f.exists(path)) f.delete(path, false) // re-manifest on resume
    if (!f.rename(tmp, path))
      throw new java.io.IOException(s"atomic rename failed: $path")
  }

  /** Input parquet files, deterministically ordered and chunked. */
  def planChunks(
      spark: SparkSession, inputDir: String, filesPerChunk: Int): Seq[Seq[String]] = {
    val f = fs(spark, inputDir)
    val files = f.listStatus(new Path(inputDir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
      .sorted
    files.grouped(math.max(1, filesPerChunk)).map(_.toSeq).toSeq
  }

  def committedChunks(spark: SparkSession, workDir: String): Set[Int] = {
    val f = fs(spark, workDir)
    val dir = new Path(s"$workDir/_commits")
    if (!f.exists(dir)) Set.empty
    else f.listStatus(dir)
      .filter(s => s.getPath.getName.endsWith(".json") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName.stripSuffix(".json").toInt)
      .toSet
  }

  /** Build (or resume) partial sketches per chunk, then merge to the final
    * sketch table. `partialAggs` run per chunk over `groupBy(keys)`;
    * `mergeAggs` re-aggregate the written partial columns by the same keys.
    *
    * Uncommitted chunks run concurrently, at most `defaultParallelism` at a
    * time (more cannot add running tasks); each writes its own partial dir
    * and then its own commit record, in any order, and the merge starts
    * after all of them. The first failure is rethrown once the chunks in
    * flight finish; no further chunk starts. Every input file is read with
    * the schema of the first file's footer, the partials with the partial
    * plan's schema, so no read runs a schema-inference job; a chunk's row
    * count is observed on its partial write. A build of k fresh chunks runs
    * 2k + 3 Spark jobs, a full resume 3.
    *
    * @return the final merged sketch DataFrame (also written to
    *         `workDir/final`), after writing `workDir/manifest.json`.
    */
  def buildOrResume(
      spark: SparkSession,
      inputDir: String,
      workDir: String,
      keys: Seq[String],
      partialAggs: Seq[Column],
      mergeAggs: Seq[Column],
      filesPerChunk: Int = 1): DataFrame = {
    val f = fs(spark, workDir)
    val chunks = planChunks(spark, inputDir, filesPerChunk)
    require(chunks.nonEmpty, s"checkpoint input $inputDir has no parquet files")
    f.mkdirs(new Path(s"$workDir/_commits"))
    // pin the chunking plan: resuming with a different filesPerChunk or a
    // changed input file list would otherwise silently double-merge stale
    // partials covering the same rows
    val planPath = new Path(s"$workDir/plan.json")
    val planJson =
      s"""{"filesPerChunk":$filesPerChunk,"chunks":${chunks.length},
         |"filesHash":"${chunks.flatten.mkString("\n").hashCode}"}"""
        .stripMargin.replace("\n", "")
    if (f.exists(planPath)) {
      val in = f.open(planPath)
      val prev = new String(in.readAllBytes(), StandardCharsets.UTF_8)
      in.close()
      require(prev == planJson,
        s"checkpoint plan mismatch (previous run used a different chunking " +
          s"or input set): $prev vs $planJson — clean $workDir to rebuild")
    } else writeAtomic(f, planPath, planJson)
    val done = committedChunks(spark, workDir)
    val inSchema = spark.read.parquet(chunks.head.head).schema
    def partial(files: Seq[String]): DataFrame =
      spark.read.schema(inSchema).parquet(files: _*)
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__rows"), partialAggs: _*)
    val fresh = chunks.zipWithIndex.filterNot { case (_, id) => done(id) }
    val freshRows = new java.util.concurrent.atomic.AtomicLong()
    Dedup.runParallel(spark.sparkContext.defaultParallelism,
      fresh.map[() => Unit] { case (files, id) => () =>
        val t0 = System.nanoTime()
        // coalesce: a chunk of empty part files aggregates to zero groups
        val obs = new Observation()
        partial(files).observe(obs, coalesce(sum("__rows"), lit(0L)).as("rows"))
          .write.mode("overwrite").parquet(s"$workDir/partials/chunk=$id")
        val rows = obs.get("rows").asInstanceOf[Long]
        val wallMs = (System.nanoTime() - t0) / 1000000
        val commit =
          s"""{"chunk":$id,"files":[${files.map(x => "\"" + x + "\"").mkString(",")}],
             |"rows":$rows,"wall_ms":$wallMs,
             |"rows_per_sec":${if (wallMs > 0) rows * 1000 / wallMs else rows}}"""
            .stripMargin.replace("\n", "")
        writeAtomic(f, new Path(s"$workDir/_commits/$id.json"), commit)
        freshRows.addAndGet(rows)
    })
    // merge ONLY the chunks of this plan (explicit paths, not directory
    // discovery — stale dirs from an aborted differently-chunked run can
    // never leak into the merge)
    val chunkPaths = chunks.indices.map(id => s"$workDir/partials/chunk=$id")
    val merged = spark.read.schema(partial(chunks.head).schema)
      .parquet(chunkPaths: _*)
      .groupBy(keys.map(col): _*)
      .agg(mergeAggs.head,
        (mergeAggs.tail :+ sum(col("__rows")).as("rows_seen")): _*)
    merged.write.mode("overwrite").parquet(s"$workDir/final")
    val manifest =
      s"""{"input":"$inputDir","chunks":${chunks.length},
         |"resumed_chunks":${done.size},"fresh_chunks":${fresh.length},
         |"fresh_rows":${freshRows.get},
         |"keys":[${keys.map(k => "\"" + k + "\"").mkString(",")}]}"""
        .stripMargin.replace("\n", "")
    writeAtomic(f, new Path(s"$workDir/manifest.json"), manifest)
    spark.read.schema(merged.schema).parquet(s"$workDir/final")
  }
}
