package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftFunctions.shingles
import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** `gates`: closed-loop passes over a fixed panel of SparkEntry gates on
  * small star-schema tables, so the per-query floor (planning, codegen,
  * job orchestration) dominates and the sketch kernels do little.
  *
  * Every gate is timed to full materialization (`collect` of all output
  * columns), never `count()`: under `count()` Catalyst prunes unused
  * aggregates, and the plans of `hll_distinct_users`,
  * `cms_event_type_counts` and `sketch_build_transcripts` then contain no
  * sketch aggregate at all. */
final class Gates(spark: SparkSession, tracer: Tracer, tables: String,
    out: String, tmpMount: String) extends Workload {
  val name = "gates"

  private val results = mutable.Map[String, (StructType, Array[Row])]()
  private val firstCanon = mutable.Map[String, Seq[String]]()

  /** Clear state a previous gate left behind and hint a GC, outside the
    * timed window, so one gate's debt is not billed to the next. */
  private def clean(): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  /** Two warm-up passes: the per-query planning and codegen paths keep
    * getting faster until about the third execution of the panel. The
    * first, cold pass runs the gates on one thread per core, so class
    * loading, code generation and JIT compilation overlap (12 s instead of
    * 22 s on a 4-core box). The second runs them one at a time: with both
    * passes concurrent the measured pass was about 7 % slower. */
  def setup(): Unit = {
    Log.timed("warm-up pass 1, concurrent") {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.cores)
      try Gates.Panel.map { g =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = SparkEntry.queries(g)(spark, tables).collect()
        })
      }.foreach(_.get())
      finally pool.shutdown()
    }
    Log.timed("warm-up pass 2") {
      for (g <- Gates.Panel) {
        clean()
        SparkEntry.queries(g)(spark, tables).collect()
      }
    }
  }

  def pass(): PassResult = {
    val ops = Gates.Panel.map { g =>
      clean()
      val fn = SparkEntry.queries(g)
      val (res, wall, id) = tracer.phase("phase", g) {
        try {
          val df = fn(spark, tables)
          Some((df.schema, df.collect()))
        } catch {
          case e: Exception =>
            System.err.println(s"[gates] $g failed: $e")
            None
        }
      }
      val ok = res.exists { case (schema, rows) =>
        val c = Workload.canon(rows)
        val same = firstCanon.getOrElseUpdate(g, c) == c
        if (same) results(g) = (schema, rows)
        same
      }
      Op(g, wall, ok, id)
    }
    PassResult(ops, ops.size.toLong, ops.map(_.wallS).sum)
  }

  def detail(passes: Seq[PassResult]): Seq[Metric] = Seq(
    Metric("gates_total_s", Stats.median(passes.map(_.wallS)), "s"),
    Metric("gates_p50_s",
      Stats.median(passes.map(p => Stats.median(p.ops.map(_.wallS)))), "s"))

  def layers(passes: Seq[PassResult], tracer: Tracer,
      kernels: Map[String, Double]): Seq[Metric] = {
    val n = passes.size.toDouble
    val byFamily = passes.flatMap(_.ops).groupBy(o => Gates.family(o.name))
    Gates.Families.map { f =>
      Metric(s"gates.${f}_s",
        byFamily.getOrElse(f, Nil).map(_.wallS).sum / n, "s")
    } ++ Layers.agg(tracer,
      byFamily.getOrElse("sketch", Nil).map(_.phaseId), passes.size)
  }

  def kernelItems(): KernelItems = {
    val docs = spark.read.parquet(s"$tables/documents.parquet")
    val ev = spark.read.parquet(s"$tables/events.parquet")
    KernelItems(
      docs.select(col("text")),
      docs.select(explode(shingles(col("text"), 8))).collect()
        .map(_.getLong(0)),
      ev.select(col("event_type")).collect().map(_.getString(0)),
      ev.select(col("value")).collect().map(_.getDouble(0)))
  }

  /** Write the last rows of every gate and the oracle SQL, with the /tmp
    * dump paths it reads mapped as the session maps them, for
    * `tools/check_oracle.py`, run after the JVM exits. A gate missing here
    * failed. */
  override def finish(): Unit = {
    for ((g, (schema, rows)) <- results) {
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"file://$out/$g")
    }
    val sql = Gates.Panel.filter(SparkEntry.oracleSql.contains).map { g =>
      Json.str(g) + ":" + Json.str(SparkEntry.oracleSql(g)
        .replace("'/tmp/", s"'$tmpMount/"))
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), sql)
    Files.writeString(Paths.get(s"$out/panel.json"),
      Gates.Panel.map(Json.str).mkString("[", ",", "]"))
  }
}

object Gates {
  /** A fixed panel, in name order: a cheap gate of every family but
    * `stream` and `classify`, where the per-query floor dominates. One warm
    * pass takes about 7 s on a 4-core box. A full 100-gate pass (about 85 s
    * warm) and the streaming and index gates (3 to 4 s each) would not fit
    * the benchmark's time budget; the sketch build and classify paths are
    * measured at scale by the `search` workload. */
  val Panel: Seq[String] = Seq(
    "ann_topk", "cms_event_type_counts", "conv_role_transitions", "dedup_exact_canonical", "hll_distinct_users",
    "multimodal_decode", "profile_unique_filter", "q01_pricing_summary",
    "sample_weighted", "text_doc_stats", "web_url_dedup")

  val Families: Seq[String] = Seq("sketch", "tpch", "classify", "profile",
    "dedup", "ann", "text", "conv", "web", "stream", "sample", "multimodal")

  /** Gate family by name prefix. */
  def family(gate: String): String = {
    val p = gate.takeWhile(_ != '_')
    p match {
      case "q01" | "q02" | "q03" | "join" | "rollup" => "tpch"
      case "classify" | "profile" | "dedup" | "ann" | "text" | "conv" |
           "web" | "stream" | "sample" | "multimodal" => p
      case "decontaminate" => "dedup"
      case "cosine" | "semdedup" => "ann"
      case "pack" | "export" => "sample"
      case _ => "sketch"
    }
  }
}
