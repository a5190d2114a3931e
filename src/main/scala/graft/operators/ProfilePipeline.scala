package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's `taxor profile` stage re-expressed in Spark: a cascade of
  * ambiguity filters over a (query × matched group) table, an EM
  * reassignment loop, and hierarchical abundance rollups
  * (/root/reference/src/main/taxor_profile.cpp:796-858).
  *
  * Input schema everywhere: (query_id, ref, match_cnt, query_n). An empty
  * input gives an empty output of the documented schema.
  */
object ProfilePipeline {
  private val byQuery = Window.partitionBy("query_id")
  private val byRef = Window.partitionBy("ref")

  /** F5 — unique-mapping filter (taxor_profile.cpp:166-229): keep an
    * ambiguous match only if its ref also has at least one uniquely-mapped
    * query. A lazy chain, no join: the row count per query_id, then per ref
    * a "has a unique row" flag over a window. Keeps the input's columns. */
  def uniqueMappingFilter(matches: DataFrame): DataFrame =
    matches.withColumn("__n", count(lit(1)).over(byQuery))
      .withColumn("__u", max(col("__n") === 1).over(byRef))
      .where(col("__u")).drop("__n", "__u")

  /** F6 — low-confidence reference filter (taxor_profile.cpp:232-279):
    * keep a ref iff uniqueQueries >= minUnique and
    * unique/(unique+ambiguous) >= minRatio (window counts per ref, as in
    * F5); then re-run F5. */
  def lowConfidenceFilter(
      matches: DataFrame,
      minUnique: Long = 3,
      minRatio: Double = 0.01): DataFrame =
    uniqueMappingFilter(matches
      .withColumn("__n", count(lit(1)).over(byQuery))
      .withColumn("__u", sum((col("__n") === 1).cast("long")).over(byRef))
      .withColumn("__t", count(lit(1)).over(byRef))
      .where(col("__u") >= minUnique && col("__u") / col("__t") >= minRatio)
      .drop("__n", "__u", "__t"))

  /** F7 — MegaPath-style association filter
    * (taxor_profile.cpp:286-465): ref A is "explained by" B when >= shareCo
    * of A's queries co-map to B and B dominates A (more unique queries, or
    * more total queries). The matches are grouped by query_id once: one job
    * gets the per-ref (unique, total) counts, and a distributed
    * `reduceByKey` counts the co-mapped ref pairs and applies the dominance
    * test against the broadcast counts, so only the explained EDGES reach
    * the driver — the co-occurrence matrix (O(refs²)) never does. When
    * several refs explain A, A's container is the one with the highest
    * co-mapped count, ties going to the ref first in String order. Chains
    * are chased to a fixpoint on the explained map (as the reference does
    * in-memory, cpp:385-399), and the remap is applied inside each query's
    * candidate list: A's match becomes B's unless the query already maps to
    * B, and matches landing on one ref merge by max. Returns the input
    * itself when nothing is explained. Throws IllegalArgumentException on a
    * null query_id, ref, match_cnt or query_n. */
  def associationFilter(matches: DataFrame, shareCo: Double = 0.95): DataFrame = {
    val grouped = candidateLists(matches)
    val lists = grouped.rdd
    val stats = lists.sparkContext.broadcast(refStats(lists, "associationFilter"))
    val edges = lists.flatMap { q =>
      val refs = q.getSeq[Row](1).map(_.getString(0))
      for (a <- refs; b <- refs if a != b) yield ((a, b), 1L)
    }.reduceByKey(_ + _).filter { case ((a, b), co) =>
      val ((ua, ta), (ub, tb)) = (stats.value(a), stats.value(b))
      co.toDouble / ta >= shareCo && (ub > ua || (ub == ua && tb > ta))
    }.collect()
    stats.destroy()
    val explained = edges.groupBy(_._1._1).map { case (a, es) =>
      a -> es.minBy { case ((_, b), co) => (-co, b) }._1._2 }
    // chase chains to a fixpoint (cpp:385-399), cycle-guarded
    def resolve(r: String, seen: Set[String]): String = explained.get(r) match {
      case Some(b) if !seen(b) => resolve(b, seen + b)
      case _ => r
    }
    val remap = explained.keys.map(r => r -> resolve(r, Set(r))).filter(p => p._1 != p._2)
    if (remap.isEmpty) return matches
    matches.sparkSession.createDataFrame(lists, grouped.schema)
      .select(col("query_id"), col("c.ref").as("__refs"), explode(col("c")).as("m"))
      .withColumn("__new", typedLit(remap.toMap).getItem(col("m.ref")))
      // drop the remapped row when the query already maps to the target
      .where(col("__new").isNull || !array_contains(col("__refs"), col("__new")))
      .groupBy(col("query_id"), coalesce(col("__new"), col("m.ref")).as("ref"))
      .agg(max(col("m.match_cnt")).as("match_cnt"),
        max(col("m.query_n")).as("query_n"))
  }

  /** C1 — EM reassignment, reference-faithful
    * (taxor_profile.cpp:638-741): per iteration the E-step assigns each
    * query to argmax(log lik + log prior), the reference's sparsifying rule
    * ERASES each multi-candidate query's worst-posterior match
    * (taxor_profile.cpp:714-719) so candidate sets shrink monotonically, and
    * the M-step re-estimates priors from assigned weight. Stops when the
    * total log-likelihood improves by less than `tol` (the reference's
    * signed criterion `diff < |log 1e-4|`, taxor_profile.cpp:725-727) or
    * after maxIters; erase-worst also forces termination after
    * max-candidates-per-query iterations.
    *
    * Scale shape: the matches are grouped once into persisted per-query
    * candidate arrays (ref index over the refs sorted in Spark's binary
    * string order, log lik, query_n). Each iteration is then ONE job with
    * no shuffle: the E-step ranks every query's candidates under the
    * driver's O(|refs|) log priors, and per-partition weight arrays are
    * reduced to the driver; erase-worst is a narrow map to the next
    * persisted state. The rank is Spark's order on the struct (−post, ref,
    * query_n), with the logs taken by `StrictMath.log` as Spark's `log`
    * does: best = min (ref asc on a tie), worst = max (ref desc), so a fully
    * tied pair never erases its own best. Every state is released before
    * the return; the result keeps the full lineage back to the one grouping
    * shuffle. Throws IllegalArgumentException on a null query_id, ref,
    * match_cnt or query_n.
    *
    * @return (query_id, ref, weight) final hard assignment.
    */
  def emAssign(
      matches: DataFrame,
      maxIters: Int = 100,
      tol: Double = math.abs(math.log(1e-4))): DataFrame = {
    val lists = candidateLists(matches,
      (col("match_cnt") / col("query_n")).cast("double"),
      col("query_n").cast("double")).rdd
    val outSchema = StructType(Seq(matches.schema("query_id"),
      StructField("ref", StringType), StructField("weight", DoubleType)))
    val refs = refStats(lists, "emAssign").keys.toArray.sortWith((a, b) =>
      UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b)) < 0)
    if (refs.isEmpty) return matches.sparkSession
      .createDataFrame(java.util.List.of[Row](), outSchema)
    val index = refs.zipWithIndex.toMap
    var cur = lists.map { q =>
      val c = q.getSeq[Row](1)
      Cands(q.get(0), c.map(m => index(m.getString(0))).toArray,
        c.map(m => StrictMath.log(m.getDouble(3) + 1e-12)).toArray,
        c.map(_.getDouble(4)).toArray)
    }.persist()
    var prev = cur // released once its successor is materialized
    val iterCap = math.max(1, maxIters) // <= 0: one E-step, uniform priors
    var lp = Array.fill(refs.length)(StrictMath.log(1.0 / refs.length + 1e-12))
    var (lastLl, iter, done) = (Double.NegativeInfinity, 0, false)
    try {
      while (!done) {
        val lpI = lp
        // reduced as the partitions finish: O(|refs|) on the driver
        val (w, ll) = cur.mapPartitions { it =>
          val w = new Array[Double](lpI.length)
          var ll = 0.0
          for (c <- it; (b, _, ps) = rank(c, lpI)) {
            w(c.ref(b)) += c.qn(b); ll += ps
          }
          Iterator((w, ll))
        }.reduce((a, b) =>
          (a._1.indices.map(i => a._1(i) + b._1(i)).toArray, a._2 + b._2))
        if (prev ne cur) prev.unpersist()
        prev = cur
        done = ll - lastLl < tol || iter + 1 >= iterCap
        lastLl = ll
        if (!done) {
          val total = w.sum
          lp = w.map(x => StrictMath.log(x / total + 1e-12))
          cur = cur.map { c =>
            if (c.ref.length == 1) c
            else {
              val worst = c.ref(rank(c, lpI)._2)
              val keep = c.ref.indices.filter(c.ref(_) != worst).toArray
              Cands(c.qid, keep.map(c.ref), keep.map(c.ll), keep.map(c.qn))
            }
          }.persist()
        }
        iter += 1
      }
      val lpF = lp
      matches.sparkSession.createDataFrame(cur.map { c =>
        val b = rank(c, lpF)._1
        Row(c.qid, refs(c.ref(b)), c.qn(b))
      }, outSchema)
    } finally { prev.unpersist(); cur.unpersist() }
  }

  /** One query's EM candidates: ref index, log lik and query_n per match. */
  private case class Cands(qid: Any, ref: Array[Int], ll: Array[Double],
      qn: Array[Double])

  /** Positions of the best (min) and worst (max) candidate in Spark's order
    * on the struct (−post, ref, query_n), post = log lik + log prior; and
    * the sum of the posts. */
  private def rank(c: Cands, lp: Array[Double]): (Int, Int, Double) = {
    val post = c.ref.indices.map(i => c.ll(i) + lp(c.ref(i)))
    def lt(i: Int, j: Int): Boolean = {
      val d = compareDoubles(-post(i), -post(j))
      if (d != 0) d < 0
      else if (c.ref(i) != c.ref(j)) c.ref(i) < c.ref(j)
      else compareDoubles(c.qn(i), c.qn(j)) < 0
    }
    var (best, worst) = (0, 0)
    for (i <- 1 until c.ref.length) {
      if (lt(i, best)) best = i
      if (lt(worst, i)) worst = i
    }
    (best, worst, post.sum)
  }

  private val Checked = Seq("query_id", "ref", "match_cnt", "query_n")

  /** One row per query_id: (query_id, c: array<struct<ref, match_cnt,
    * query_n, extra…>>). Jobs over its `rdd` share the one shuffle. */
  private def candidateLists(matches: DataFrame, extra: Column*): DataFrame =
    matches.groupBy("query_id").agg(collect_list(
      struct(Checked.tail.map(col) ++ extra: _*)).as("c"))

  /** One job over the candidate lists: per ref, (rows of single-candidate
    * queries, all rows). Fails on the driver, naming the column, when a
    * query_id, ref, match_cnt or query_n is null. */
  private def refStats(lists: RDD[Row], fn: String): Map[String, (Long, Long)] = {
    val parts = lists.mapPartitions { it =>
      val nulls = new Array[Long](Checked.length)
      val st = scala.collection.mutable.HashMap[String, (Long, Long)]()
      for (q <- it) {
        if (q.isNullAt(0)) nulls(0) += 1
        val c = q.getSeq[Row](1)
        for (m <- c) {
          for (i <- 1 until Checked.length if m.isNullAt(i - 1)) nulls(i) += 1
          val (u, t) = st.getOrElse(m.getString(0), (0L, 0L))
          st(m.getString(0)) = (u + (if (c.size == 1) 1 else 0), t + 1)
        }
      }
      Iterator((nulls, st.toMap))
    }.collect()
    for ((c, i) <- Checked.zipWithIndex) {
      val n = parts.map(_._1(i)).sum
      require(n == 0, s"$fn: column $c holds $n null value(s)")
    }
    parts.flatMap(_._2).groupMapReduce(_._1)(_._2)((a, b) =>
      (a._1 + b._1, a._2 + b._2))
  }

  /** A10 — relative abundance per ref from assigned weight (nucleotide-style:
    * weight = query_n; coverage normalization optional via refLen). */
  def abundance(assigned: DataFrame, refLen: Option[DataFrame] = None): DataFrame = {
    val byRef = assigned.groupBy("ref").agg(sum("weight").as("w"))
    val withCov = refLen match {
      case Some(rl) => byRef.join(rl, "ref")
        .withColumn("w", col("w") / col("ref_len")).drop("ref_len")
      case None => byRef
    }
    val totalRow = withCov.agg(sum("w")).first()
    if (totalRow.isNullAt(0)) // empty assignment: empty abundance
      return withCov.select(col("ref"), lit(0.0).as("pct")).limit(0)
    val total = totalRow.getDouble(0)
    withCov.select(col("ref"), (col("w") / total).as("pct"))
  }

  /** A11 — hierarchical rollup: explode each ref's ancestor path and sum
    * percentages per (rank, node) (taxor_profile.cpp:568-636). `taxonomy`
    * has (ref, path: array<struct<rank:int, node:string>>). */
  def rollup(abund: DataFrame, taxonomy: DataFrame): DataFrame =
    abund.join(broadcast(taxonomy), "ref")
      .select(col("pct"), explode(col("path")).as("node"))
      .groupBy(col("node.rank").as("rank"), col("node.node").as("node"))
      .agg(sum("pct").as("pct"))

  /** IO9 — CAMI-style report rows, rank-ordered, percentage in [0,100] with
    * 6 significant digits (profile_output.hpp:25-49), thresholded. */
  def camiReport(rolled: DataFrame, minPct: Double = 0.001): DataFrame =
    rolled.where(col("pct") > minPct)
      .select(col("rank"), col("node"),
        format_number(col("pct") * 100, 6).as("percentage"))
      .orderBy(col("rank").asc, col("pct").desc, col("node").asc)

  /** IO9 — write the CAMI profiling file: `@SampleID`/`@@` header lines then
    * rank-ordered TSV rows (profile_output.hpp:25-49). Single file; the
    * report is tiny by construction (one row per taxon above threshold). */
  def writeCami(report: DataFrame, path: String, sampleId: String): Unit = {
    val rows = report.collect().map { r =>
      s"${r.get(0)}\t${r.getString(1)}\t${r.getString(2)}"
    }
    writeLocal(report, path, Seq(s"@SampleID:$sampleId", "@Version:0.9.1",
      "@@RANK\tNODE\tPERCENTAGE") ++ rows)
  }

  /** The reference's fixed CAMI rank order (profile_output.hpp:30,56). */
  val CamiRanks: Seq[String] = Seq("superkingdom", "phylum", "class",
    "order", "family", "genus", "species")

  /** The reference's `format(f, 6)` — C++ ostream default float notation at
    * precision 6: six significant digits, trailing zeros stripped
    * (profile_output.hpp:18-23). */
  private[operators] def sig6(x: Double): String = {
    val bd = new java.math.BigDecimal(x)
      .round(new java.math.MathContext(6)).stripTrailingZeros
    bd.toPlainString
  }

  private def writeLocal(df: DataFrame, path: String, lines: Seq[String]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
    out.write(lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  /** IO9 — CAMI sequence-abundance file (profile_output.hpp:51-77):
    * `@Ranks` header, an `unclassified\tno rank\t-\t-\t<pct>` first row
    * when present, then per-rank rows above `threshold` in the reference's
    * fixed rank order, taxid-ascending within a rank (its std::map order).
    * `report` columns: (taxid, rank, taxpath, taxpathsn, pct in [0,1]). */
  def writeSequenceAbundance(
      report: DataFrame,
      path: String,
      sampleId: String,
      threshold: Double = 0.0,
      unclassifiedPct: Option[Double] = None,
      ranks: Seq[String] = CamiRanks): Unit = {
    val rows = report.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2), r.getString(3), r.getDouble(4)))
    val body = ranks.flatMap { tr =>
      rows.filter(r => r._2 == tr && r._5 > threshold).sortBy(_._1)
        .map(r => s"${r._1}\t${r._2}\t${r._3}\t${r._4}\t${sig6(r._5 * 100)}")
    }
    val uncls = unclassifiedPct.toSeq.map(p =>
      s"unclassified\tno rank\t-\t-\t${sig6(p * 100)}")
    writeLocal(report, path, Seq(
      s"@SampleID:$sampleId", "@Version:0.10.0",
      s"@Ranks:${ranks.mkString("|")}",
      "@@TAXID\tRANK\tTAXPATH\tTAXPATHSN\tPERCENTAGE") ++ uncls ++ body)
  }

  /** IO9 — CAMI binning file (profile_output.hpp:79-98): one
    * `SEQUENCEID\tTAXID` row per query, `-` for unmatched, ordered by the
    * query_id column's NATURAL order (numeric ids sort numerically; the
    * reference's std::map iterates its string keys lexicographically, which
    * coincides for its zero-padded read names). `binning` columns:
    * (query_id, taxid nullable). Collected to the driver: one row per
    * query — for bulk binning at scale use writeSearchResults-style
    * distributed TSV instead; this sink mirrors the reference's single
    * CAMI submission file. */
  def writeBinning(binning: DataFrame, path: String, sampleId: String): Unit = {
    val rows = binning.orderBy(col(binning.columns.head)).collect()
      .map(r =>
        s"${r.get(0)}\t${Option(r.getString(1)).getOrElse("-")}")
    writeLocal(binning, path, Seq(s"@SampleID:$sampleId", "@Version:0.10.0",
      "@@SEQUENCEID\tTAXID") ++ rows)
  }

  /** IO9 at scale — DISTRIBUTED CAMI binning sink: the same rows as
    * writeBinning but written by the executors (text part files under
    * `<dir>/rows`, one row per query, `-` for unmatched), with the @-header
    * written once to `<dir>/header`. writeBinning stays for the single-file
    * CAMI submission artifact (its driver collect is the submission
    * format's price); this is the path a 100×-scale user takes — no row
    * ever reaches the driver. Rows are unordered across part files (the
    * binning format is keyed by SEQUENCEID, not order); `readBinningLines`
    * reassembles header + sorted rows for comparison/export. */
  def writeBinningDistributed(
      binning: DataFrame, dir: String, sampleId: String): Unit = {
    binning.select(concat_ws("\t",
        col(binning.columns.head).cast("string"),
        coalesce(col(binning.columns(1)).cast("string"), lit("-"))).as("line"))
      .write.mode("overwrite").text(s"$dir/rows")
    writeLocal(binning, s"$dir/header", Seq(s"@SampleID:$sampleId",
      "@Version:0.10.0", "@@SEQUENCEID\tTAXID"))
  }

  /** Reassemble a writeBinningDistributed directory into the single-file
    * line sequence (header lines, then rows sorted by SEQUENCEID) — golden-
    * comparable with a writeBinning file on the same input. */
  def readBinningLines(
      spark: SparkSession, dir: String): Seq[String] = {
    val header = spark.read.textFile(s"$dir/header").collect().toSeq
    val rows = spark.read.textFile(s"$dir/rows")
      .collect().toSeq.sortBy(_.split("\t", 2).head)
    header ++ rows
  }
}
