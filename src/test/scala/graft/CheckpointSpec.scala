package graft

import graft.GraftFunctions._
import graft.sources.{SketchCheckpoint, Transcripts}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** North-rule resume test: kill after partial commit (drop commit records),
  * rerun, assert final sketches byte-identical to a single-shot run; plus
  * degenerate inputs and the job budget of the pipelined chunk build. */
class CheckpointSpec extends AnyFunSuite with SparkTestBase {
  private def rmrf(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private val partialAggs = Seq(
    hll_agg(col("conv_id"), 12).as("hll"),
    bloom_agg(col("text"), 100000, 0.01).as("bf"),
    cms_agg(col("tool"), 0.001, 0.01).as("cms"))
  private val mergeAggs = Seq(
    hll_merge_agg(col("hll"), 12).as("hll"),
    bloom_merge_agg(col("bf"), 100000, 0.01).as("bf"),
    cms_merge_agg(col("cms"), 0.001, 0.01).as("cms"))

  test("resume after simulated kill produces byte-identical sketches") {
    val tmp = Files.createTempDirectory("graft-ckpt").toString
    val input = input8(tmp)

    // single-shot reference run
    val ref = build(input, s"$tmp/run_ref")

    // first run, then simulate a crash: drop half the commit records AND
    // their partials (as if those chunks never finished)
    build(input, s"$tmp/run_kill")
    val commits = Files.list(Paths.get(s"$tmp/run_kill/_commits"))
      .iterator().asScala.toSeq
      .filter { p => // skip Hadoop LocalFS .crc sidecars
        val n = p.getFileName.toString
        n.endsWith(".json") && !n.startsWith(".")
      }
      .sortBy(_.getFileName.toString)
    val toKill = commits.drop(commits.size / 2)
    toKill.foreach { c =>
      val id = c.getFileName.toString.stripSuffix(".json")
      Files.delete(c)
      val crc = c.getParent.resolve(s".$id.json.crc")
      if (Files.exists(crc)) Files.delete(crc)
      rmrf(Paths.get(s"$tmp/run_kill/partials/chunk=$id"))
    }
    assertSameSketches(ref, build(input, s"$tmp/run_kill"))
    // manifest records the resume
    val manifest = Files.readString(Paths.get(s"$tmp/run_kill/manifest.json"))
    assert(manifest.contains("\"resumed_chunks\":"))
    // commit records carry lineage + metrics
    val commit = Files.readString(
      Files.list(Paths.get(s"$tmp/run_kill/_commits")).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".json") &&
          !p.getFileName.toString.startsWith("."))
        .next())
    assert(commit.contains("\"files\":[") && commit.contains("\"rows_per_sec\":"))
    rmrf(Paths.get(tmp))
  }

  private def build(input: String, work: String): Array[Row] =
    SketchCheckpoint.buildOrResume(spark, input, work, Seq("role"),
      partialAggs, mergeAggs, filesPerChunk = 2).orderBy("role").collect()

  /** Sketch bytes (HLL, Bloom, CMS) and rows_seen per role must match. */
  private def assertSameSketches(ref: Array[Row], got: Array[Row]): Unit = {
    assert(ref.length == got.length && ref.nonEmpty)
    ref.zip(got).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0))
      (1 to 3).foreach { i =>
        assert(java.util.Arrays.equals(
          a.getAs[Array[Byte]](i), b.getAs[Array[Byte]](i)),
          s"sketch $i differs for role ${a.getString(0)}")
      }
      assert(a.getLong(4) == b.getLong(4), "rows_seen differs")
    }
  }

  /** Eight input part files: four chunks of two files. */
  private def input8(tmp: String): String = {
    val input = s"$tmp/input"
    Transcripts.generate(spark, 200).repartition(8).write.parquet(input)
    input
  }

  private def inputFiles(dir: String): Seq[Path] =
    Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.toUri.toString)

  /** chunk id -> (rows, files) from the commit records. */
  private def commits(work: String): Map[Int, (Long, Seq[String])] =
    Files.list(Paths.get(s"$work/_commits")).iterator().asScala.toSeq
      .filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".json") && !n.startsWith(".")
      }
      .map { p =>
        val js = Files.readString(p)
        val rows = "\"rows\":(\\d+)".r.findFirstMatchIn(js).get.group(1).toLong
        val files = "\"files\":\\[([^\\]]*)\\]".r.findFirstMatchIn(js).get
          .group(1).split(",").map(_.stripPrefix("\"").stripSuffix("\"")).toSeq
        p.getFileName.toString.stripSuffix(".json").toInt -> (rows, files)
      }.toMap

  test("input dir without parquet files fails before any checkpoint write") {
    val tmp = Files.createTempDirectory("graft-ckpt-empty").toString
    val input = s"$tmp/input"
    Files.createDirectories(Paths.get(input))
    Files.writeString(Paths.get(s"$input/_SUCCESS"), "")
    val e = intercept[IllegalArgumentException] {
      SketchCheckpoint.buildOrResume(spark, input, s"$tmp/work",
        Seq("role"), partialAggs, mergeAggs)
    }
    assert(e.getMessage.contains(input), e.getMessage)
    assert(!Files.exists(Paths.get(s"$tmp/work/plan.json")))
    assert(!Files.exists(Paths.get(s"$tmp/work/_commits")))
    rmrf(Paths.get(tmp))
  }

  test("a failing chunk is rethrown uncommitted; resume after repair is exact") {
    val tmp = Files.createTempDirectory("graft-ckpt-fail").toString
    val input = input8(tmp)
    val ref = build(input, s"$tmp/run_ref")
    // corrupt the second file of chunk 0 (the first file's footer is the
    // schema every chunk is read with, so it stays intact)
    val bad = inputFiles(input)(1)
    val good = Files.readAllBytes(bad)
    Files.write(bad, Array.fill[Byte](good.length)(7))
    val e = intercept[Exception](build(input, s"$tmp/run"))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_)).mkString("\n")
    assert(msgs.contains(bad.getFileName.toString), msgs)
    // chunk 0 left no commit; the three chunks in flight beside it
    // (local[4]: all four start together) finished and committed
    assert(commits(s"$tmp/run").keySet == Set(1, 2, 3))
    Files.write(bad, good)
    assertSameSketches(ref, build(input, s"$tmp/run"))
    rmrf(Paths.get(tmp))
  }

  test("a build of k fresh chunks runs at most 2k + 3 jobs, a full resume 3") {
    val tmp = Files.createTempDirectory("graft-ckpt-jobs").toString
    val input = input8(tmp)
    val k = SketchCheckpoint.planChunks(spark, input, 2).size
    assert(k == 4)
    def run(): Unit = SketchCheckpoint.buildOrResume(spark, input,
      s"$tmp/run", Seq("role"), partialAggs, mergeAggs, filesPerChunk = 2)
    val fresh = countJobs(run())
    assert(fresh <= 2 * k + 3, s"$fresh jobs for $k fresh chunks")
    val resumed = countJobs(run())
    info(s"$fresh jobs for $k fresh chunks, $resumed for a full resume")
    assert(resumed <= 3, s"$resumed jobs for a full resume")
    rmrf(Paths.get(tmp))
  }

  test("commit rows equal each chunk's input rows and sum to rows_seen") {
    val tmp = Files.createTempDirectory("graft-ckpt-rows").toString
    val input = input8(tmp)
    val out = build(input, s"$tmp/run")
    val cs = commits(s"$tmp/run")
    assert(cs.keySet == Set(0, 1, 2, 3))
    cs.foreach { case (id, (rows, files)) =>
      assert(rows == spark.read.parquet(files: _*).count(), s"chunk $id")
    }
    assert(cs.values.map(_._1).sum == out.map(_.getLong(4)).sum)
    assert(cs.values.map(_._1).sum == spark.read.parquet(input).count())
    rmrf(Paths.get(tmp))
  }

  test("a chunk of empty part files commits zero rows") {
    val tmp = Files.createTempDirectory("graft-ckpt-zero").toString
    val input = s"$tmp/input"
    Files.createDirectories(Paths.get(input))
    // two data files (chunk 0), then two empty part files (chunk 1)
    val turns = Transcripts.generate(spark, 50)
    turns.repartition(2).write.parquet(s"$tmp/full")
    turns.limit(0).write.parquet(s"$tmp/empty1")
    turns.limit(0).write.parquet(s"$tmp/empty2")
    inputFiles(s"$tmp/full").zipWithIndex.foreach { case (p, i) =>
      Files.copy(p, Paths.get(s"$input/a$i.parquet"))
    }
    Seq("empty1", "empty2").zipWithIndex.foreach { case (d, i) =>
      val Seq(p) = inputFiles(s"$tmp/$d")
      Files.copy(p, Paths.get(s"$input/z$i.parquet"))
    }
    val out = build(input, s"$tmp/run")
    val cs = commits(s"$tmp/run")
    assert(cs(1)._1 == 0L, s"empty chunk committed ${cs(1)._1} rows")
    assert(cs(0)._1 == turns.count())
    assert(out.map(_.getLong(4)).sum == cs(0)._1)
    rmrf(Paths.get(tmp))
  }
}
