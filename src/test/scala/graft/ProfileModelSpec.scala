package graft

import graft.operators.ProfilePipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ProfilePipeline against a short driver-side model of the reference's
  * profile stage (taxor_profile.cpp:166-741): F5, F6, F7 and the
  * erase-worst EM, on seeded random match tables. */
class ProfileModelSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import ProfileModelSpec._

  /** `nQ` queries with 1-6 refs each over a skewed pool of ten refs; a third
    * of the matches share the query's planted count (exact likelihood
    * ties); C0 only ever maps beside R00 and C2 only beside C0, so F7 has a
    * contained ref and a chain to resolve. */
  private def table(seed: Int, nQ: Int = 600): Seq[M] = {
    val r = new scala.util.Random(seed)
    (0 until nQ).flatMap { q =>
      val qn = 20 + r.nextInt(20)
      val base = 1 + r.nextInt(qn)
      val refs = Iterator.continually(f"R${math.min(r.nextInt(10), r.nextInt(10))}%02d")
        .distinct.take(1 + r.nextInt(6)).toList
      var rows = refs.map(ref =>
        M(s"$q", ref, if (r.nextInt(3) == 0) base else 1 + r.nextInt(qn), qn))
      for ((c, beside) <- Seq("C0" -> "R00", "C2" -> "C0"))
        if (rows.exists(_.ref == beside) && rows.size < 6 && r.nextInt(3) == 0)
          rows :+= M(s"$q", c, base, qn)
      rows
    }
  }

  /** Long query_id with int query_n, or string query_id with long query_n. */
  private def frame(m: Seq[M], longIds: Boolean): DataFrame = {
    val df = m.toDF("query_id", "ref", "match_cnt", "query_n")
    if (longIds) df.withColumn("query_id", col("query_id").cast("long"))
      .withColumn("query_n", col("query_n").cast("int"))
    else df
  }

  private def rows(df: DataFrame): Seq[M] =
    df.select(col("query_id").cast("string"), col("ref"),
        col("match_cnt").cast("long"), col("query_n").cast("long"))
      .as[(String, String, Long, Long)].collect().toSeq
      .map { case (q, r, mc, qn) => M(q, r, mc, qn) }.sortBy(_.key)

  private def assigned(df: DataFrame): Seq[(String, String, Double)] =
    df.select(col("query_id").cast("string"), col("ref"), col("weight"))
      .as[(String, String, Double)].collect().toSeq.sorted

  test("F5, F6, F7 and EM equal the reference model on seeded tables") {
    for ((seed, longIds) <- Seq(11 -> true, 12 -> false); parts <- Seq(1, 4))
      withShufflePartitions(parts) {
        val m = table(seed)
        val df = frame(m, longIds).persist()
        val ctx = s"seed=$seed longIds=$longIds partitions=$parts"
        val f5 = ProfilePipeline.uniqueMappingFilter(df)
        assert(rows(f5) == sorted(Model.f5(m)), s"F5 $ctx")
        val f6 = ProfilePipeline.lowConfidenceFilter(df, 3, 0.2)
        val f6m = Model.f6(m, 3, 0.2)
        assert(rows(f6) == sorted(f6m), s"F6 $ctx")
        val f7 = Model.f7(m, 0.95)
        assert(m.exists(_.ref == "C2") && !f7.exists(_.ref == "C0"),
          s"fixture must exercise a remap chain: $ctx")
        assert(rows(ProfilePipeline.associationFilter(df)) == sorted(f7),
          s"F7 $ctx")
        assert(rows(ProfilePipeline.associationFilter(f6)) ==
          sorted(Model.f7(f6m, 0.95)), s"F7 after F6 $ctx")
        for (iters <- Seq(1, 20)) {
          val (want, _) = Model.em(m, iters)
          assert(assigned(ProfilePipeline.emAssign(df, iters)) == want,
            s"EM maxIters=$iters $ctx")
        }
        df.unpersist()
      }
  }

  test("emAssign runs one job per EM round plus at most three") {
    val m = table(13, nQ = 500)
    val (_, k) = Model.em(m, 20)
    assert(k >= 3, s"fixture should take several rounds, took $k")
    val df = frame(m, longIds = true)
    val jobs = countJobs(ProfilePipeline.emAssign(df, maxIters = 20).collect())
    assert(jobs <= k + 3, s"$jobs jobs for $k rounds")
  }

  test("profile functions release everything they persist") {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
    val df = frame(table(14, nQ = 500), longIds = false)
    val outs = Seq(ProfilePipeline.uniqueMappingFilter(df),
      ProfilePipeline.lowConfidenceFilter(df),
      ProfilePipeline.associationFilter(df),
      ProfilePipeline.emAssign(df, maxIters = 20),
      ProfilePipeline.emAssign(df, maxIters = 1)).map(_.persist())
    outs.foreach(_.count())
    outs.foreach(_.unpersist())
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      spark.sparkContext.getPersistentRDDs.values.mkString(", "))
  }
}

object ProfileModelSpec {
  case class M(q: String, ref: String, mc: Long, qn: Long) {
    def key: (String, String, Long, Long) = (q, ref, mc, qn)
  }

  def sorted(m: Seq[M]): Seq[M] = m.sortBy(_.key)

  /** The reference's profile stage on the driver, one query's matches at a
    * time (taxor_profile.cpp); refs are ASCII, so String order is Spark's. */
  object Model {
    private def perRef(m: Seq[M]): Map[String, (Long, Long)] = {
      val n = m.groupBy(_.q).map { case (q, g) => q -> g.size }
      m.groupBy(_.ref).map { case (r, g) =>
        r -> (g.count(x => n(x.q) == 1).toLong, g.size.toLong) }
    }

    /** F5, cpp:166-229: drop ambiguous matches of refs with no unique query. */
    def f5(m: Seq[M]): Seq[M] = {
      val withUnique = perRef(m).filter(_._2._1 > 0).keySet
      m.filter(x => withUnique(x.ref))
    }

    /** F6, cpp:232-279: keep confident refs, then F5 again. */
    def f6(m: Seq[M], minUnique: Long, minRatio: Double): Seq[M] = {
      val s = perRef(m)
      f5(m.filter { x =>
        val (u, t) = s(x.ref); u >= minUnique && u.toDouble / t >= minRatio })
    }

    /** F7, cpp:286-465: fold each explained ref into its container (highest
      * co-mapped count, then the lower ref), chains chased to the end. */
    def f7(m: Seq[M], shareCo: Double): Seq[M] = {
      val s = perRef(m)
      val refsOf = m.groupBy(_.q).map { case (q, g) => q -> g.map(_.ref).toSet }
      val co = refsOf.values.toSeq
        .flatMap(rs => for (a <- rs; b <- rs if a != b) yield (a, b))
        .groupBy(identity).map { case (p, g) => p -> g.size }
      val explained = co.filter { case ((a, b), c) =>
        val ((ua, ta), (ub, tb)) = (s(a), s(b))
        c.toDouble / ta >= shareCo && (ub > ua || (ub == ua && tb > ta))
      }.toSeq.groupBy(_._1._1).map { case (a, es) =>
        a -> es.minBy { case ((_, b), c) => (-c, b) }._1._2 }
      def resolve(r: String, seen: Set[String]): String = explained.get(r) match {
        case Some(b) if !seen(b) => resolve(b, seen + b)
        case _ => r
      }
      val remap = explained.keys.map(r => r -> resolve(r, Set(r)))
        .filter(p => p._1 != p._2).toMap
      if (remap.isEmpty) return m
      m.flatMap { x =>
        remap.get(x.ref) match {
          case Some(t) if refsOf(x.q)(t) => None
          case t => Some(x.copy(ref = t.getOrElse(x.ref)))
        }
      }.groupBy(x => (x.q, x.ref)).values
        .map(g => g.head.copy(mc = g.map(_.mc).max, qn = g.map(_.qn).max)).toSeq
    }

    private val byKey = Ordering.Tuple3(Ordering.Double.TotalOrdering,
      Ordering.String, Ordering.Double.TotalOrdering)

    /** C1, cpp:638-741: E-step argmax under the priors, erase each
      * multi-candidate query's worst match, M-step priors from the assigned
      * weight; stop on a log-likelihood gain below |log 1e-4| or at the cap.
      * Returns the sorted (query, ref, weight) assignment and the rounds. */
    def em(m: Seq[M], maxIters: Int): (Seq[(String, String, Double)], Int) = {
      val tol = math.abs(math.log(1e-4))
      val refs = m.map(_.ref).distinct
      var cands = m.groupBy(_.q).map { case (q, g) =>
        q -> g.map(x => (x.ref, x.mc.toDouble / x.qn, x.qn.toDouble)) }
      var prior = refs.map(_ -> 1.0 / refs.size).toMap
      var (lastLl, iter, done) = (Double.NegativeInfinity, 0, false)
      var best = Map.empty[String, (String, Double, Double)]
      while (!done) {
        def post(c: (String, Double, Double)) =
          StrictMath.log(c._2 + 1e-12) + StrictMath.log(prior(c._1) + 1e-12)
        def key(c: (String, Double, Double)) = (-post(c), c._1, c._3)
        best = cands.map { case (q, cs) => q -> cs.minBy(key)(byKey) }
        val worst = cands.map { case (q, cs) => q -> cs.maxBy(key)(byKey)._1 }
        val ll = cands.values.flatten.map(post).sum
        val w = best.values.groupMapReduce(_._1)(_._3)(_ + _)
        done = ll - lastLl < tol || iter + 1 >= math.max(1, maxIters)
        lastLl = ll
        if (!done) {
          prior = refs.map(r => r -> w.getOrElse(r, 0.0) / w.values.sum).toMap
          cands = cands.map { case (q, cs) =>
            q -> (if (cs.size == 1) cs else cs.filter(_._1 != worst(q))) }
        }
        iter += 1
      }
      (best.toSeq.map { case (q, c) => (q, c._1, c._3) }.sorted, iter)
    }
  }
}
