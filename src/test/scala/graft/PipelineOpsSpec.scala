package graft

import graft.operators.SimilarityOps
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Round-3 pipeline operators: clustering, MERGE, percentiles, navigation
  * windows, salted skew join, deterministic splits/samples.
  */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("containment_pairs equals the quadratic asymmetric-containment " +
      "definition and is a superset of high-jaccard pairs") {
    val docSh: Map[Long, Set[String]] = Tables.t(spark, sf001, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) =>
        val toks = t.split(" ")
        id -> toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty).toMap
    val expected = (for {
      (a, sa) <- docSh.toSeq; (b, sb) <- docSh.toSeq if a != b
      inter = (sa & sb).size if inter.toDouble / sa.size >= 0.8
    } yield (a, b, sa.size.toLong, inter.toLong)).toSet
    val got = SparkEntry.queries("containment_pairs")(spark, sf001)
      .select($"inner_id", $"outer_id", $"n_inner", $"inter")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === expected)
    // symmetric near-dups (jaccard >= 0.8) are contained both ways
    val jac = SparkEntry.queries("ngram_jaccard_pairs")(spark, sf001)
      .filter($"jaccard" >= 0.8)
      .select($"a_id", $"b_id").as[(Long, Long)].collect()
    val dirs = got.map(p => (p._1, p._2))
    jac.foreach { case (a, b) =>
      assert(dirs.contains((a, b)) && dirs.contains((b, a)))
    }
  }

  test("snapshot_diff classifies every user against an independent as-of " +
      "recompute") {
    val ev = Tables.t(spark, sf001, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .as[(Long, java.sql.Timestamp, Long, String)].collect()
    val t1 = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    def stateAt(cut: Option[java.sql.Timestamp]): Map[Long, String] =
      ev.filter(e => cut.forall(c => !e._2.after(c)))
        .groupBy(_._1).view.mapValues(
          _.maxBy(e => (e._2.getTime, e._3))._4).toMap
    val (s1, s2) = (stateAt(Some(t1)), stateAt(None))
    val got = SparkEntry.queries("snapshot_diff")(spark, sf001)
      .select($"user_id", $"status").as[(Long, String)].collect().toMap
    assert(got.keySet === s2.keySet)
    got.foreach { case (u, st) =>
      val expected = (s1.get(u), s2.get(u)) match {
        case (None, Some(_)) => "added"
        case (Some(a), Some(b)) if a != b => "changed"
        case _ => "unchanged"
      }
      assert(st === expected, s"user $u")
    }
  }

  test("cuped_lift: theta shrinks variance exactly as the plain-Scala " +
      "recompute says, arms partition the users") {
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ev = Tables.t(spark, sf001, "events")
      .select($"user_id", to_date($"ts").as("d"), $"value")
      .as[(Long, java.sql.Date, Double)].collect()
    val cut = java.time.LocalDate.parse("2024-01-15")
    val perUser = ev.groupBy(_._1).map { case (u, rows) =>
      val pre = rows.filter(!_._2.toLocalDate.isAfter(cut))
        .map(r => math.round(r._3 * 1e6)).sum
      val post = rows.filter(_._2.toLocalDate.isAfter(cut))
        .map(r => math.round(r._3 * 1e6)).sum
      val arm = java.lang.Long.parseLong(md5hex(u.toString).take(15), 16) % 2
      (arm, pre, post)
    }.toSeq
    val n = perUser.size.toDouble
    val sx = perUser.map(_._2).sum.toDouble
    val sy = perUser.map(_._3).sum.toDouble
    val sxx = perUser.map(t => BigInt(t._2) * BigInt(t._2)).sum.toDouble
    val sxy = perUser.map(t => BigInt(t._2) * BigInt(t._3)).sum.toDouble
    val theta = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    val got = SparkEntry.queries("cuped_lift")(spark, sf001)
      .select($"arm", $"n_arm", $"mean_adj", $"var_post", $"var_adj")
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(got.map(_._2).sum === perUser.size)
    got.foreach { case (arm, nArm, meanAdj, varPost, varAdj) =>
      val rows = perUser.filter(_._1 == arm)
      assert(nArm === rows.size)
      val adjq = rows.map { case (_, pre, post) =>
        math.round(post.toDouble - theta * (pre.toDouble - sx / n))
      }
      val na = adjq.size.toDouble
      val meanA = adjq.sum.toDouble / na / 1e6
      assert(math.abs(meanAdj - meanA) < 1e-6, s"arm $arm mean_adj")
      val varA = (adjq.map(a => BigInt(a) * BigInt(a)).sum.toDouble / na
        - (adjq.sum.toDouble / na) * (adjq.sum.toDouble / na)) / 1e12
      assert(math.abs(varAdj - varA) / varA < 1e-9, s"arm $arm var_adj")
      val posts = rows.map(_._3)
      val varP = (posts.map(p => BigInt(p) * BigInt(p)).sum.toDouble / na
        - (posts.sum.toDouble / na) * (posts.sum.toDouble / na)) / 1e12
      assert(math.abs(varPost - varP) / varP < 1e-9, s"arm $arm var_post")
    }
  }

  test("fellegi_sunter: agreement flags recount from metadata, scores are " +
      "the quantized log-weight sums, bands partition the pairs") {
    val meta = Tables.t(spark, sf001, "documents")
      .select($"doc_id", $"source", $"lang", $"n_chars")
      .as[(Long, String, String, Long)].collect()
      .map(r => r._1 -> r).toMap
    val nn = meta.size.toDouble
    def coll(f: ((Long, String, String, Long)) => Any): Double = {
      val s2 = meta.values.groupBy(f).values.map(g => g.size.toLong * g.size).sum
      (s2 - nn) / (nn * nn - nn)
    }
    val uSrc = coll(_._2)
    val uLang = coll(_._3)
    val uLen = {
      val byLen = meta.values.groupBy(_._4).view.mapValues(_.size.toLong)
      val s = (for ((c1, n1) <- byLen; (c2, n2) <- byLen
        if math.abs(c1 - c2) <= 10) yield n1 * n2).sum
      (s - nn) / (nn * nn - nn)
    }
    val ms = Seq(0.95, 0.9, 0.85, 0.9)
    val us = Seq(uSrc, uLang, uLen, 0.05)
    def w(agree: Boolean, i: Int): Long =
      if (agree) math.round(math.log(ms(i) / us(i)) * 1e6)
      else math.round(math.log((1 - ms(i)) / (1 - us(i))) * 1e6)
    val got = SparkEntry.queries("fellegi_sunter")(spark, sf001)
      .select($"a_id", $"b_id", $"f_src", $"f_lang", $"f_len", $"f_sim",
        $"score", $"verdict")
      .as[(Long, Long, Long, Long, Long, Long, Double, String)].collect()
    assert(got.nonEmpty)
    got.foreach { case (a, b, fs, fl, fn, fm, score, verdict) =>
      val (ma, mb) = (meta(a), meta(b))
      assert(fs === (if (ma._2 == mb._2) 1L else 0L), s"f_src $a-$b")
      assert(fl === (if (ma._3 == mb._3) 1L else 0L), s"f_lang $a-$b")
      assert(fn === (if (math.abs(ma._4 - mb._4) <= 10) 1L else 0L), s"f_len $a-$b")
      val exp = (w(fs == 1, 0) + w(fl == 1, 1) + w(fn == 1, 2) + w(fm == 1, 3)) / 1e6
      assert(math.abs(score - exp) < 1e-9, s"score $a-$b: $score vs $exp")
      val band = if (score >= 2.0) "match"
        else if (score <= -2.0) "non_match" else "possible"
      assert(verdict === band)
    }
  }

  test("seasonal_outliers are exactly the |z| > 2 residual days of " +
      "seasonal_dow") {
    val resid = SparkEntry.queries("seasonal_dow")(spark, sf001)
      .select($"event_type", $"day", $"residual_micro")
      .as[(String, java.sql.Date, Long)].collect()
    val stats = resid.groupBy(_._1).view.mapValues { rows =>
      val n = rows.length.toDouble
      val sr = rows.map(_._3).sum.toDouble
      val srr = rows.map(r => r._3 * r._3).sum.toDouble
      (n, sr / n, srr / n - (sr / n) * (sr / n))
    }.toMap
    val expected = resid.filter { case (et, _, r) =>
      val (_, mean, v) = stats(et)
      math.abs((r - mean) / math.sqrt(v)) > 2.0
    }.map(t => (t._1, t._2.toString)).toSet
    val got = SparkEntry.queries("seasonal_outliers")(spark, sf001)
      .select($"event_type", $"day", $"z")
      .as[(String, java.sql.Date, Double)].collect()
    assert(got.map(t => (t._1, t._2.toString)).toSet === expected)
    got.foreach { case (_, _, z) => assert(math.abs(z) > 2.0) }
  }

  test("kaplan_meier: at-risk counts telescope, hazards recount, curve " +
      "is non-increasing") {
    val rows = SparkEntry.queries("kaplan_meier")(spark, sf001)
      .select($"t", $"at_risk", $"d", $"ln_survival")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    // independent per-user lifetime recount
    val ev = Tables.t(spark, sf001, "events")
      .select($"user_id", to_date($"ts").as("d")).as[(Long, java.sql.Date)]
      .collect().groupBy(_._1).view
      .mapValues(_.map(_._2.toLocalDate)).toMap
    val dmax = ev.values.flatten.max
    val lifetimes = ev.values.map { ds =>
      val (d0, d1) = (ds.min, ds.max)
      (java.time.temporal.ChronoUnit.DAYS.between(d0, d1),
        java.time.temporal.ChronoUnit.DAYS.between(d1, dmax) >= 1)
    }.toSeq
    rows.foreach { case (t, atRisk, d, _) =>
      assert(atRisk === lifetimes.count(_._1 >= t), s"at_risk at t=$t")
      assert(d === lifetimes.count(l => l._1 == t && l._2), s"d at t=$t")
    }
    // ln-survival recounts as the cumulative quantized-ln hazard sum
    var cum = 0L
    rows.foreach { case (_, atRisk, d, lnS) =>
      if (d < atRisk)
        cum += math.round(math.log(1.0 - d.toDouble / atRisk) * 1e6)
      assert(math.abs(lnS - cum / 1e6) < 1e-12)
    }
    assert(rows.map(_._4).sliding(2).forall(p => p.length < 2 || p(1) <= p(0)))
  }

  test("dedup_clusters labels equal union-find components of the LSH pairs") {
    val pairs = SparkEntry.queries("minhash_lsh_pairs")(spark, sf001)
      .select($"a_id", $"b_id").as[(Long, Long)].collect()
    val clusters = SparkEntry.queries("dedup_clusters")(spark, sf001)
      .as[(Long, Long)].collect().toMap
    // independent union-find over the same edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(v => v -> find(v)).toMap
    assert(clusters.keySet === expected.keySet)
    // same partition: equal labels iff same component, and label = min member
    val byComp = expected.groupBy(_._2).view.mapValues(_.keys.toSet).toMap
    byComp.foreach { case (root, members) =>
      val labels = members.map(clusters)
      assert(labels.size === 1, s"component of $root split: $labels")
      assert(labels.head === members.min)
    }
  }

  test("jaccard_prefix_join equals the quadratic all-pairs definition") {
    // brute force: per-doc distinct shingle-hash sets, every pair, exact
    // Jaccard ≥ 3/5 — prefix filtering must lose NO qualifying pair
    val sets = Tables.t(spark, sf001, "documents")
      .select($"doc_id", split($"text", " ").as("toks"))
      .filter(size($"toks") >= 3)
      .select($"doc_id", explode(expr(
        """transform(sequence(1, size(toks) - 2),
          |  i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))""".stripMargin))
        .as("sh"))
      .select($"doc_id",
        (conv(substring(md5($"sh"), 1, 15), 16, 10).cast("long") % 2147483647L)
          .as("h"))
      .distinct()
      .as[(Long, Long)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ids = sets.keys.toSeq.sorted
    val expected = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.size
      a = ids(i); b = ids(j)
      inter = (sets(a) & sets(b)).size.toLong
      uni = sets(a).size + sets(b).size - inter
      if 5 * inter >= 3 * uni
    } yield (a, b, inter, uni)).toSet
    val got = SparkEntry.queries("jaccard_prefix_join")(spark, sf001)
      .select($"a_id", $"b_id", $"inter", $"uni")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === expected)
  }

  test("bfs_hops equals a sequential BFS over the co-purchase edges") {
    val li = Tables.t(spark, sf001, "lineitem")
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect().toSeq
    val adj = li.groupBy(_._1).values.flatMap { ps =>
      val parts = ps.map(_._2).distinct
      for (a <- parts; b <- parts if a != b) yield (a, b)
    }.toSeq.distinct.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seed = adj.keys.min
    var dist = Map(seed -> 0L)
    var frontier = Set(seed)
    for (d <- 1L to 4L) {
      val nxt = frontier.flatMap(n => adj.getOrElse(n, Nil))
        .filterNot(dist.contains)
      dist ++= nxt.map(_ -> d)
      frontier = nxt
    }
    val got = SparkEntry.queries("bfs_hops")(spark, sf001)
      .as[(Long, Long)].collect().toMap
    assert(got === dist)
  }

  test("kcore_peel equals a sequential peel-to-fixpoint and every survivor " +
      "meets the degree bound") {
    // independent derivation: support-≥2 edges rebuilt from raw pairs
    // per order (with multiplicity), then literal peel until stable —
    // also proves the operator's 12 bounded rounds REACH the fixpoint here
    val li = Tables.t(spark, sf001, "lineitem")
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect().toSeq
    val edges = li.groupBy(_._1).values.flatMap { ps =>
      val parts = ps.map(_._2).distinct
      for (a <- parts; b <- parts if a != b) yield (a, b)
    }.toSeq.groupBy(identity).view.mapValues(_.size).toMap
      .filter(_._2 >= 2).keys.toSeq
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var surv = adj.keySet
    var changed = true
    while (changed) {
      val next = surv.filter(n => (adj(n) & surv).size >= 3)
      changed = next != surv
      surv = next
    }
    val expected = surv.map(n => n -> (adj(n) & surv).size.toLong).toMap
    val got = SparkEntry.queries("kcore_peel")(spark, sf001)
      .as[(Long, Long)].collect().toMap
    assert(got === expected)
    assert(got.values.forall(_ >= 3L))
  }

  test("item_item_sim margins, score argument, and cosine recount") {
    val li = Tables.t(spark, sf001, "lineitem")
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect().toSeq
    val margins = li.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val pairCnt = li.groupBy(_._1).values.flatMap { ls =>
      val ps = ls.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.size) yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = SparkEntry.queries("item_item_sim")(spark, sf001)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toSeq
    val expected = pairCnt.filter(_._2 >= 3).toSeq
      .map { case ((a, b), cab) =>
        (a, b, cab, margins(a), margins(b),
          cab * cab * 1000000L / (margins(a) * margins(b)))
      }
      .sortBy { case (a, b, _, _, _, score) => (-score, a, b) }.take(20)
    assert(got.map(r => (r._1, r._2, r._3, r._4, r._5, r._6)) === expected)
    got.foreach { case (_, _, cab, ca, cb, _, cos) =>
      assert(cos === cab.toDouble / math.sqrt((ca * cb).toDouble))
    }
  }

  test("assoc_rules confidence/lift arguments recount from raw baskets") {
    val li = Tables.t(spark, sf001, "lineitem")
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect().toSeq
    val nOrders = li.map(_._1).distinct.size.toLong
    val margins = li.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val pairCnt = li.groupBy(_._1).values.flatMap { ls =>
      val ps = ls.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.size) yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = pairCnt.filter(_._2 >= 3).toSeq
      .flatMap { case ((a, b), cab) => Seq((a, b, cab), (b, a, cab)) }
      .map { case (ante, cons, cab) =>
        (ante, cons, cab, cab * 1000000L / margins(ante),
          cab * nOrders * 1000000L / (margins(ante) * margins(cons)))
      }
      .sortBy { case (a, c, _, conf, _) => (-conf, a, c) }.take(20)
    val got = SparkEntry.queries("assoc_rules")(spark, sf001)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === expected)
  }

  test("minhash_calibration is consistent with the LSH pair list and its " +
      "own arithmetic") {
    val cal = SparkEntry.queries("minhash_calibration")(spark, sf001)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(cal.nonEmpty)
    cal.foreach { case (_, _, matches, inter, uni, est, jac, err) =>
      assert(matches >= 0 && matches <= 16)
      assert(est === matches * 1000 / 16)
      assert(jac === inter * 1000 / uni)
      assert(err === math.abs(est - jac))
    }
    // every verified LSH near-dup pair must appear with jac_milli >= 300
    val lsh = SparkEntry.queries("minhash_lsh_pairs")(spark, sf001)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val calJac = cal.map(r => (r._1, r._2) -> r._7).toMap
    lsh.foreach { p =>
      assert(calJac.contains(p) && calJac(p) >= 300, s"pair $p")
    }
  }

  test("clustering_agreement Rand index recount from the two clusterings") {
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(v => v -> find(v)).toMap
    }
    val docs = Tables.t(spark, sf001, "documents")
      .select($"doc_id").as[Long].collect().toSeq
    val la = unionFind(SparkEntry.queries("minhash_lsh_pairs")(spark, sf001)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSeq)
    val lb = unionFind(SparkEntry.queries("jaccard_prefix_join")(spark, sf001)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSeq)
    val labels = docs.map(d => (la.getOrElse(d, d), lb.getOrElse(d, d)))
    def c2(n: Long) = n * (n - 1) / 2
    val cont = labels.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val a = cont.values.map(c2).sum
    val b = cont.toSeq.groupBy(_._1._1).values
      .map(g => c2(g.map(_._2).sum)).sum
    val c = cont.toSeq.groupBy(_._1._2).values
      .map(g => c2(g.map(_._2).sum)).sum
    val nPairs = c2(docs.size.toLong)
    val got = SparkEntry.queries("clustering_agreement")(spark, sf001)
      .as[(Long, Long, Long, Long, Long, Double)].collect().head
    assert(got === ((docs.size.toLong, nPairs, a, b, c,
      (nPairs + 2 * a - b - c).toDouble / nPairs.toDouble)))
  }

  test("percent_of_parent shares are exact and sum to 1 per region") {
    val got = SparkEntry.queries("percent_of_parent")(spark, sf001)
      .as[(String, String, Long, Long, Double, Double)].collect().toSeq
    got.groupBy(_._1).values.foreach { rows =>
      val regionTotal = rows.head._4
      assert(rows.map(_._3).sum === regionTotal)
      rows.foreach { r =>
        assert(r._5 === r._3.toDouble / r._4.toDouble)
      }
      assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-9)
    }
    val globalCents = got.map(_._3).sum
    got.foreach(r => assert(r._6 === r._3.toDouble / globalCents.toDouble))
  }

  test("emd_pairwise equals the exact 1-D Wasserstein distance") {
    val ev = Tables.t(spark, sf001, "events")
      .select($"event_type", round($"value" * 100).cast("long"))
      .as[(String, Long)].collect().toSeq
    val byType = ev.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val grid = ev.map(_._2).distinct.sorted
    def cdfCounts(vs: Seq[Long]): Seq[Long] = {
      val sorted = vs.sorted
      grid.map(g => sorted.count(_ <= g).toLong)
    }
    val got = SparkEntry.queries("emd_pairwise")(spark, sf001)
      .as[(String, String, Double)].collect().toSeq
    got.foreach { case (ta, tb, emd) =>
      val (va, vb) = (byType(ta), byType(tb))
      val (ca, cb) = (cdfCounts(va), cdfCounts(vb))
      val (na, nb) = (va.size.toLong, vb.size.toLong)
      val sScaled = (0 until grid.size - 1).map { i =>
        math.abs(ca(i) * nb - cb(i) * na) * (grid(i + 1) - grid(i))
      }.sum
      assert(emd === sScaled.toDouble / (na * nb).toDouble / 100.0,
        s"$ta/$tb")
    }
    assert(got.size ===
      byType.size * (byType.size - 1) / 2)
  }

  test("sorted_neighborhood pairs are exactly the window-4 simhash " +
      "neighbors at hamming <= 4") {
    val sims = SparkEntry.queries("simhash")(spark, sf001)
      .as[(Long, Long)].collect().toSeq
    val ranked = sims.sortBy(r => (r._2, r._1)).zipWithIndex
    val expected = (for {
      (a, i) <- ranked.iterator
      d <- 1 until 4 if i + d < ranked.size
      b = ranked(i + d)._1
      h = java.lang.Long.bitCount(a._2 ^ b._2)
      if h <= 4
    } yield (math.min(a._1, b._1), math.max(a._1, b._1), h.toLong)).toSet
    val got = SparkEntry.queries("sorted_neighborhood")(spark, sf001)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === expected)
  }

  test("clustering_coefficient equals a brute-force per-node recount") {
    val sims = SparkEntry.queries("simhash")(spark, sf001)
      .filter($"doc_id" < 500)
      .as[(Long, Long)].collect().toSeq
    val edges = (for {
      i <- sims.indices; j <- (i + 1) until sims.size
      (a, sa) = sims(i); (b, sb) = sims(j)
      if (sa >> 16) == (sb >> 16) &&
        java.lang.Long.bitCount(sa ^ sb) <= 4
    } yield if (a < b) (a, b) else (b, a)).toSet
    val adj = (edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) })
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = SparkEntry.queries("clustering_coefficient")(spark, sf001)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val expectedNodes = adj.filter(_._2.size >= 2).keys.toSeq.sorted
    assert(got.map(_._1) === expectedNodes)
    got.foreach { case (v, deg, tri, cc) =>
      val nbrs = adj(v)
      assert(deg === nbrs.size.toLong)
      val t = nbrs.toSeq.combinations(2).count {
        case Seq(x, y) => adj(x).contains(y)
      }.toLong
      assert(tri === t, s"node $v")
      assert(cc === 2.0 * t / (deg * (deg - 1)).toDouble)
    }
  }

  test("connectedComponents converges past diameter 3 (chain + forest)") {
    // a diameter-16 path (long enough that the per-round lineage REBASE is
    // load-bearing — unrebased, plan strings double per round and a long
    // chain OOMs the driver), a disjoint triangle, an isolated edge, and a
    // node whose only pair is with itself; the fixed-K=3 unrolled form
    // mislabeled exactly this path shape
    val edges = ((10 until 26).map(i => (i.toLong, i + 1L)) ++ Seq(
      (20L, 21L), (21L, 22L), (20L, 22L),
      (30L, 31L), (40L, 40L)).map { case (a, b) => (a + 90L, b + 90L) })
      .toDF("a_id", "b_id")
    // smallGraphLimit = 0 forces the DISTRIBUTED alternating-star path (the
    // default would take the driver union-find fast path on these few edges)
    val got = graft.operators.DedupOps.connectedComponents(edges, 0L)
      .as[(Long, Long)].collect().toMap
    (10L to 26L).foreach(v => assert(got(v) === 10L, s"chain node $v"))
    (110L to 112L).foreach(v => assert(got(v) === 110L))
    assert(got(120L) === 120L && got(121L) === 120L)
    assert(got(130L) === 130L)
    assert(got.size === 23)
    // and the fast path must produce the identical labeling
    val fast = graft.operators.DedupOps.connectedComponents(edges, 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(fast === got)
  }

  test("ccAlternatingStar equals the min-label fixpoint on an adversarial " +
      "64-chain, in far fewer rounds than the diameter") {
    // a path of diameter 64 (the chained near-dup topology), a triangle,
    // an isolated edge, and a node whose only pair is with itself —
    // min-label propagation needs ~64 rounds here; alternating star must
    // converge logarithmically
    val chain = (0 until 64).map(i => (100L + i, 101L + i))
    val edges = (chain ++ Seq((20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L),
        (40L, 40L)))
      .toDF("a_id", "b_id")
    val (labels, rounds) = graft.operators.DedupOps.ccAlternatingStar(edges)
    val got = labels.as[(Long, Long)].collect().toMap
    (100L to 164L).foreach(v => assert(got(v) === 100L, s"chain node $v"))
    (20L to 22L).foreach(v => assert(got(v) === 20L))
    assert(got(30L) === 30L && got(31L) === 30L)
    assert(got(40L) === 40L)
    assert(got.size === 71)
    assert(rounds <= 12, s"expected O(log n) rounds, took $rounds")
    // and identical to the exact union-find labeling
    val fix = graft.operators.DedupOps.connectedComponents(edges, 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(got === fix)
  }

  private val sf01 = java.nio.file.Paths.get(sf001).resolveSibling("sf0.01").toString

  /** (vec_id, the 4 µ-quantized features of embedding dims off+1..off+4):
    * k-means reads off = 0, PQ subspace m off = 4m. */
  private def lloydFeats(emb: DataFrame, off: Int): DataFrame =
    emb.select($"vec_id" +: (0 until 4).map(i =>
      round(element_at($"embedding", off + i + 1).cast("double") * 1e6)
        .cast("long").as(s"x$i")): _*)

  private def lloydInit(feats: DataFrame, k: Int): Seq[(Long, Seq[Double])] =
    feats.filter($"vec_id" < k).as[(Long, Long, Long, Long, Long)].collect()
      .map { case (id, a, b, c, d) => (id, Seq(a, b, c, d).map(_.toDouble)) }
      .toSeq.sortBy(_._1)

  /** The reference Lloyd step, the DataFrame shape the kernel replaced:
    * crossJoin the centroid rows, row_number argmin over (dist, cell),
    * groupBy means — the oracle's recursive term. */
  private def lloydStepRef(feats: DataFrame,
      c: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Double])] = {
    val cents = c.map { case (cell, m) => (cell, m(0), m(1), m(2), m(3)) }
      .toDF("cell", "c0", "c1", "c2", "c3")
    val dist = (0 until 4).map { i =>
      val d = col(s"x$i").cast("double") - col(s"c$i")
      d * d
    }.reduce(_ + _)
    val w = Window.partitionBy($"vec_id").orderBy($"dist", $"cell")
    feats.crossJoin(broadcast(cents))
      .withColumn("dist", dist)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .groupBy($"cell")
      .agg((sum($"x0").cast("double") / count(lit(1))).as("c0"), (1 until 4).map(i =>
        (sum(col(s"x$i")).cast("double") / count(lit(1))).as(s"c$i")): _*)
      .collect().map(r => (r.getLong(0), (1 to 4).map(r.getDouble).toSeq))
      .toSeq.sortBy(_._1)
  }

  /** Walks the reference from vectors 0..k-1 to its fixpoint (the 39-step
    * cap as the SQL unroll), asserting one kernel step equals one reference
    * step at every iteration and the whole kernel run equals the end. */
  private def assertLloydMatchesRef(feats: DataFrame, k: Int, what: String)
      : Seq[(Long, Seq[Double])] = {
    val init = lloydInit(feats, k)
    var c = init
    var converged = false
    var it = 0
    while (it < 39 && !converged) {
      it += 1
      val ref = lloydStepRef(feats, c)
      assert(SimilarityOps.lloyd(feats, c, 1) === ref, s"$what, iteration $it")
      converged = ref == c
      c = ref
    }
    assert(converged, s"$what did not converge within the SQL unroll")
    assert(SimilarityOps.lloyd(feats, init, 39) === c, what)
    c
  }

  test("kmeans_trained centroids are a Lloyd fixpoint within the SQL unroll") {
    // Spark stops early at convergence while the oracle unrolls KM_ITERS
    // iterations; they agree only if the training REALLY converged (one
    // more step must be the identity)
    val c = SimilarityOps.trainedCentroids(spark, sf001)
    val feats = lloydFeats(Tables.t(spark, sf001, "embeddings"), 0)
    assert(lloydStepRef(feats, c) === c)
    assert(c.nonEmpty && c.size <= 8)
  }

  test("the Lloyd kernel equals the DataFrame Lloyd step at every iteration, " +
      "for k-means and every PQ subspace") {
    val dirs = Seq(sf001, sf01, "perfbench/data",
      "fixtures/hostile_embeddings")
    for (dir <- dirs) {
      val emb = Tables.t(spark, dir, "embeddings")
      val km = assertLloydMatchesRef(lloydFeats(emb, 0), 8, s"$dir k-means")
      assert(SimilarityOps.trainedCentroids(spark, dir) === km, dir)
      for (m <- 0 until 4) {
        val pq = assertLloydMatchesRef(lloydFeats(emb, 4 * m), 4, s"$dir PQ $m")
        assert(SimilarityOps.pqCodebook(spark, dir, m) === pq, s"$dir PQ $m")
      }
    }
    // a NULL element (NULL distance: sorts first, so the row joins the
    // lowest cell and counts in its n) and an exact tie: vector 2 sits
    // 25 µ-units² from both initial centroids, so it must join cell 0
    val f = (v: Float) => Some(v)
    val tiny = Seq(
      (0L, Seq(f(0f), f(0f), f(0f), f(0f))),
      (1L, Seq(f(1e-5f), f(0f), f(0f), f(0f))),
      (2L, Seq(f(5e-6f), f(0f), f(0f), f(0f))),
      (3L, Seq(f(9e-6f), f(0f), None, f(0f))),
      (4L, Seq(f(2e-5f), f(0f), f(0f), f(0f)))).toDF("vec_id", "embedding")
    val c = assertLloydMatchesRef(lloydFeats(tiny, 0), 2, "in-test table")
    assert(c === Seq((0L, Seq(14.0 / 3, 0.0, 0.0, 0.0)), (1L, Seq(15.0, 0.0, 0.0, 0.0))))
  }

  /** Runs `body` under a fresh job group; returns its result with the
    * Spark jobs and the SQL executions the group started. */
  private def underJobGroup[T](body: => T)
      : (T, Seq[java.util.Properties], Seq[SparkListenerSQLExecutionStart]) = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val sqls = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]()
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty("spark.jobGroup.id") == group) jobs.add(p)
          else if (p.getProperty("spark.job.description") == s"$group-end") seen.countDown()
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart if x.jobGroupId.contains(group) => sqls.add(x)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      // the listener bus delivers in order: once the marker job is seen,
      // every event of `body` has been
      sc.setJobDescription(s"$group-end")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.asScala.toSeq, sqls.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("trainedCentroids runs one Spark job per Lloyd iteration") {
    // a fresh dir: the centroids are memoized per dir
    val dir = java.nio.file.Files.createTempDirectory("graft-lloyd-jobs")
    val file = java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf01, "embeddings.parquet"),
      dir.resolve("embeddings.parquet"))
    try {
      val feats = lloydFeats(Tables.t(spark, dir.toString, "embeddings"), 0)
      var (c, iters, converged) = (lloydInit(feats, 8), 0, false)
      while (!converged && iters < 39) {
        val next = SimilarityOps.lloyd(feats, c, 1)
        converged = next == c
        c = next
        iters += 1
      }
      val (trained, jobs, _) =
        underJobGroup(SimilarityOps.trainedCentroids(spark, dir.toString))
      assert(trained === c)
      // one job per iteration, plus the init's collect
      assert(iters > 2 && jobs.size <= iters + 2, s"${jobs.size} jobs for $iters iterations")
    } finally {
      java.nio.file.Files.delete(file)
      java.nio.file.Files.delete(dir)
    }
  }

  test("kcore_peel stops one round past its fixpoint") {
    // every round rebases its survivor set once, so the query's SQL
    // executions started through QOps.rebase count its rounds
    def rounds(dir: String): Int = {
      val (_, jobs, sqls) = underJobGroup(SparkEntry.queries("kcore_peel")(spark, dir))
      spark.catalog.clearCache()
      val n = sqls.count(_.details.contains("graft.QOps$.rebase"))
      assert(n > 0, s"$dir: ${jobs.size} jobs, no round seen")
      n
    }
    // the benchmark's slice peels to empty in round 1, round 2 confirms
    assert(rounds("perfbench/data") <= 3)
    // sf0.01 reaches its 935 survivors in round 10, round 11 confirms
    assert(rounds(sf01) === 11)
  }

  test("pq_quantization: every subspace codebook is a Lloyd fixpoint, " +
      "codes are argmin assignments, and SSE recounts") {
    // fixpoint per subspace (the oracle unrolls PQ_ITERS; agreement needs
    // real convergence — one more step must be the identity)
    val books = (0 until 4).map { m =>
      val c = SimilarityOps.pqCodebook(spark, sf001, m)
      val feats = lloydFeats(Tables.t(spark, sf001, "embeddings"), 4 * m)
      assert(lloydStepRef(feats, c) === c, s"subspace $m did not converge")
      assert(c.nonEmpty && c.size <= 4)
      m -> c.toMap
    }.toMap
    val embs = Tables.t(spark, sf001, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val got = SparkEntry.queries("pq_quantization")(spark, sf001)
      .select($"subspace", $"code", $"n", $"sse_micro")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.map(r => (r._1, r._2)).distinct.length === got.length)
    (0 until 4).foreach { m =>
      val book = books(m)
      // plain-Scala argmin assignment + SSE recount
      val assigned = embs.map { case (_, e) =>
        val y = (0 until 4).map(j => math.round(e(4 * m + j).toDouble * 1e6))
        val byCode = book.toSeq.sortBy(_._1).map { case (code, d) =>
          val dist = (0 until 4).map { j =>
            val dd = y(j).toDouble - d(j); dd * dd
          }.sum
          (code, dist)
        }
        val (code, dist) = byCode.minBy { case (cd, ds) => (ds, cd) }
        (code, math.round(dist / 1e6))
      }
      val expected = assigned.groupBy(_._1).view
        .mapValues(g => (g.length.toLong, g.map(_._2).sum)).toMap
      val gotM = got.filter(_._1 == m.toLong)
        .map(r => r._2 -> (r._3, r._4)).toMap
      assert(gotM === expected, s"subspace $m")
    }
    // every vector is coded in every subspace
    assert(got.groupBy(_._1).values.forall(_.map(_._3).sum == embs.length.toLong))
  }

  test("pq_ann_eval: ADC recall equals the plain-Scala recount and beats " +
      "the chance floor") {
    val books = (0 until 4).map(m =>
      m -> SimilarityOps.pqCodebook(spark, sf001, m).toMap).toMap
    val embs = Tables.t(spark, sf001, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .sortBy(_._1)
    def sub(e: Array[Float], m: Int): Seq[Double] =
      (0 until 4).map(j => math.round(e(4 * m + j).toDouble * 1e6).toDouble)
    def l2(a: Seq[Double], b: Seq[Double]): Double =
      (0 until 4).map { j => val d = a(j) - b(j); d * d }.sum
    // codes per vector
    val codes = embs.map { case (id, e) =>
      id -> (0 until 4).map { m =>
        books(m).toSeq.sortBy(_._1)
          .map { case (c, d) => (c, l2(sub(e, m), d)) }
          .minBy { case (c, d) => (d, c) }._1
      }
    }.toMap
    val got = SparkEntry.queries("pq_ann_eval")(spark, sf001)
      .select($"q_id", $"k", $"n_hit", $"recall")
      .as[(Long, Long, Long, Double)].collect()
    assert(got.length === 20)
    got.foreach { case (q, k, nHit, recall) =>
      val qe = embs.find(_._1 == q).get._2
      // ADC top-3 recount
      val adc = embs.filter(_._1 != q).map { case (cid, _) =>
        val d = (0 until 4).map(m => l2(sub(qe, m), books(m)(codes(cid)(m)))).sum
        (cid, d)
      }.sortBy { case (cid, d) => (d, cid) }.take(3).map(_._1).toSet
      // exact 16-dim top-3 recount
      def full(e: Array[Float]): Seq[Double] =
        (0 until 16).map(i => math.round(e(i).toDouble * 1e6).toDouble)
      val exact = embs.filter(_._1 != q).map { case (cid, ce) =>
        val d = (0 until 16).map { i =>
          val dd = full(qe)(i) - full(ce)(i); dd * dd
        }.sum
        (cid, d)
      }.sortBy { case (cid, d) => (d, cid) }.take(3).map(_._1).toSet
      assert(k === 3L, s"q=$q")
      assert(nHit === (exact & adc).size.toLong, s"q=$q")
      assert(recall === nHit.toDouble / k)
    }
    // aggregate signal: comfortably above the 3/(n-1) chance floor
    val mean = got.map(_._4).sum / got.length
    assert(mean >= 3.0 * 3.0 / (embs.length - 1))
  }

  test("merge_upsert branches are consistent with target/source membership") {
    val target = Tables.t(spark, sf001, "customer")
      .filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey").as[Long].collect().toSet
    val source = Tables.t(spark, sf001, "orders")
      .select($"o_custkey").distinct().as[Long].collect().toSet
    val got = SparkEntry.queries("merge_upsert")(spark, sf001)
      .select($"key", $"action").as[(Long, String)].collect()
    assert(got.map(_._1).toSet === (target ++ source))
    got.foreach { case (k, action) =>
      val expected =
        if (target(k) && source(k)) "update"
        else if (!target(k)) "insert" else "keep"
      assert(action === expected, s"key $k")
    }
    // which branches fire depends on the data slice (sf0.001 has no
    // order-less BUILDING customer, so 'keep' may be absent); the per-key
    // branch assertions above are the real check
    assert(got.map(_._2).toSet.subsetOf(Set("insert", "keep", "update")))
    assert(got.map(_._2).toSet.size >= 2)
  }

  test("exact_percentiles picks the ceil(p*n) order statistic") {
    val vals = Tables.t(spark, sf001, "events")
      .select($"event_type", $"value").as[(String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val got = SparkEntry.queries("exact_percentiles")(spark, sf001)
      .select($"event_type", $"n", $"p50", $"p90", $"p99")
      .as[(String, Long, Double, Double, Double)].collect()
    got.foreach { case (et, n, p50, p90, p99) =>
      val sorted = vals(et)
      assert(n === sorted.length)
      def pick(p: Double) = sorted(math.ceil(n * p).toInt - 1)
      assert(p50 === pick(0.5)); assert(p90 === pick(0.9)); assert(p99 === pick(0.99))
    }
  }

  test("window_lead_lag offsets agree with the sorted timeline") {
    val rows = SparkEntry.queries("window_lead_lag")(spark, sf001)
      .select($"user_id", $"value", $"prev_value", $"next_value")
      .collect()
    // rows come back ordered (user_id, ts, event_id); check lag/lead chaining
    rows.sliding(2).foreach {
      case Array(a, b) if a.getLong(0) == b.getLong(0) =>
        assert(b.isNullAt(2) || b.getDouble(2) == a.getDouble(1))
        assert(a.isNullAt(3) || a.getDouble(3) == b.getDouble(1))
      case _ => ()
    }
  }

  test("skew_join_salted equals the unsalted join and shuffles on (key, salt)") {
    val got = SparkEntry.queries("skew_join_salted")(spark, sf001)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
    assert(plan.contains("salt"))
    val weights = Map("click" -> 1L, "view" -> 2L, "purchase" -> 10L,
      "error" -> 0L, "signup" -> 5L)
    val plain = Tables.t(spark, sf001, "events")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(round($"value" * 100).cast("long")).as("cents"))
      .as[(String, Long, Long)].collect()
      .map { case (et, n, c) => (et, n, c * weights(et)) }.sortBy(_._1)
    val salted = got.as[(String, Long, Long)].collect().sortBy(_._1)
    assert(salted === plain)
  }

  test("train_val_split is exhaustive and deterministic") {
    val df = SparkEntry.queries("train_val_split")(spark, sf001)
      .as[(String, String, Long)].collect()
    val total = df.map(_._3).sum
    val nDocs = Tables.t(spark, sf001, "documents").count()
    assert(total === nDocs)
    val again = SparkEntry.queries("train_val_split")(spark, sf001)
      .as[(String, String, Long)].collect()
    assert(df === again)
    val bySplit = df.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    assert(bySplit.keySet === Set("train", "val", "test"))
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
  }

  test("contamination_check: benchmark members excluded, ratios in [0,1]") {
    val got = SparkEntry.queries("contamination_check")(spark, sf001)
      .select($"doc_id", $"n_shingles", $"n_contaminated", $"contamination")
      .as[(Long, Long, Long, Double)].collect()
    assert(got.forall(_._1 >= 10))
    got.foreach { case (_, n, c, ratio) =>
      assert(c >= 0 && c <= n)
      assert(ratio === c.toDouble / n)
    }
    // with a 31-word vocabulary some contamination must exist
    assert(got.exists(_._3 > 0))
  }

  test("bigram_lm_score: finite negative log-probs, n_bigrams = n_tokens - 1") {
    val nToks = Tables.t(spark, sf001, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long").as("nt"))
      .as[(Long, Long)].collect().toMap
    val got = SparkEntry.queries("bigram_lm_score")(spark, sf001)
      .select($"doc_id", $"n_bigrams", $"avg_logp")
      .as[(Long, Long, Double)].collect()
    assert(got.length === nToks.size)
    got.foreach { case (id, nb, lp) =>
      assert(nb === nToks(id) - 1)
      assert(lp < 0.0 && !lp.isNaN && !lp.isInfinite)
    }
  }

  test("scd2_history builds contiguous, single-current version chains") {
    val rows = SparkEntry.queries("scd2_history")(spark, sf001)
      .select($"user_id", $"change_id", $"event_type",
        unix_micros($"valid_from".cast("timestamp")),
        unix_micros($"valid_to".cast("timestamp")))
      .as[(Long, Long, String, Long, Option[Long])].collect()
    rows.groupBy(_._1).foreach { case (u, g) =>
      val chain = g.sortBy(_._2)
      // exactly one open (current) row per user, and it is the last
      assert(chain.count(_._5.isEmpty) === 1, s"user $u current-row count")
      assert(chain.last._5.isEmpty, s"user $u open row not last")
      // contiguity: each row closes exactly where the next opens
      chain.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5.contains(b._4), s"user $u gap between versions")
          // a run boundary means the value actually changed
          assert(a._3 !== b._3, s"user $u adjacent versions share a value")
        case _ => ()
      }
    }
  }

  test("skyline_parts equals the quadratic dominance definition") {
    val parts = Tables.t(spark, sf001, "part")
      .select($"p_partkey", round($"p_retailprice" * 100).cast("long"), $"p_size")
      .as[(Long, Long, Int)].collect().toSeq
    val expected = parts.filter { case (_, c, sz) =>
      !parts.exists { case (_, c2, s2) =>
        c2 <= c && s2 >= sz && (c2 < c || s2 > sz)
      }
    }.map { case (k, c, sz) => (k, c, sz) }.sortBy(t => (t._2, t._1))
    val got = SparkEntry.queries("skyline_parts")(spark, sf001)
      .as[(Long, Long, Int)].collect().toSeq
    assert(got === expected)
    assert(got.nonEmpty)
    // the front strictly improves in size across DISTINCT price points
    // (several parts may legitimately tie on (cents, size) within one point)
    got.map(t => (t._2, t._3)).distinct.sliding(2).foreach {
      case Seq((c1, s1), (c2, s2)) =>
        assert(c2 > c1 && s2 > s1, "front must strictly improve")
      case _ => ()
    }
  }

  test("gini_concentration matches a plain-Scala closed form") {
    val perSupp = Tables.t(spark, sf001, "lineitem")
      .groupBy($"l_suppkey")
      .agg(sum(round($"l_extendedprice" * 100).cast("long")).as("cents"))
      .join(Tables.t(spark, sf001, "supplier"),
        $"l_suppkey" === $"s_suppkey")
      .select($"s_nationkey", $"l_suppkey", $"cents")
      .as[(Int, Long, Long)].collect().toSeq
    val expected = perSupp.groupBy(_._1).toSeq.map { case (nat, g) =>
      val xs = g.sortBy(t => (t._3, t._2)).map(_._3)
      val n = xs.size.toLong
      val tot = xs.sum
      val rc = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      (nat, n, tot, (2 * rc - (n + 1) * tot).toDouble / (n * tot).toDouble)
    }.sortBy(_._1)
    val got = SparkEntry.queries("gini_concentration")(spark, sf001)
      .as[(Int, Long, Long, Double)].collect().toSeq
    assert(got === expected)
    // Gini is always within [0, 1) for non-negative revenues
    got.foreach { case (nat, _, _, g) =>
      assert(g >= 0.0 && g < 1.0, s"nation $nat gini $g out of range")
    }
  }

  test("key_skew_report counts and hottest key recount") {
    val freqs = Tables.t(spark, sf001, "lineitem")
      .groupBy($"l_partkey").agg(count(lit(1)).as("freq"))
      .as[(Long, Long)].collect().toSeq
    val nRows = freqs.map(_._2).sum
    val maxF = freqs.map(_._2).max
    val hot = freqs.filter(_._2 == maxF).map(_._1).min
    val got = SparkEntry.queries("key_skew_report")(spark, sf001)
      .as[(Long, Long, Long, Long, Double, Double)].collect()
    assert(got.length === 1)
    val r = got.head
    assert(r._1 === nRows && r._2 === freqs.size.toLong && r._3 === maxF)
    assert(r._4 === hot)
    assert(r._5 === nRows.toDouble / freqs.size)
    assert(r._6 === (maxF * freqs.size).toDouble / nRows)
  }

  test("stratified_sample yields k deterministic rows per language") {
    val rows = SparkEntry.queries("stratified_sample")(spark, sf001)
      .select($"lang", $"rk", $"doc_id").as[(String, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._2).sorted === (1L to g.length).toArray)
      assert(g.length <= 3)
    }
    val again = SparkEntry.queries("stratified_sample")(spark, sf001)
      .select($"lang", $"rk", $"doc_id").as[(String, Long, Long)].collect()
    assert(rows === again)
  }
}
