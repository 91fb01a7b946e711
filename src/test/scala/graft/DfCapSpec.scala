package graft

/** The exact-pair family (`ngram_jaccard_pairs`, `jaccard_prefix_join`,
  * `containment_pairs`) where the df ≤ 64 stop-shingle cap is active. No
  * committed corpus reaches it (max shingle df 9 in the hostile fixtures,
  * 25 at sf0.1), so the oracle never tells a capped prefix from an uncapped
  * one. This spec writes a corpus that does: 84 docs share a 10-shingle
  * boilerplate run (df > 64), most add two rare shingles of their own
  * (nc = 2, below every prefix length), two are the boilerplate alone
  * (nc = 0, identical text) and one a cut of it (nc = 0, unique text), one
  * pair shares rare shingles on top of the boilerplate, and a few docs have
  * no boilerplate at all. The reference keeps the operators' earlier form:
  * each prefix is joined with the document frequencies and filtered to
  * df ≤ 64, where the operators now slice the first nc rarest.
  */
class DfCapSpec extends SparkSpec {
  import spark.implicits._

  private val Cap = 64

  private lazy val corpus: Seq[(Long, String)] = {
    val boiler = (0 until 12).map(i => s"b$i").mkString(" ")
    (0L until 80L).map(i => i -> s"$boiler u$i v$i") ++ Seq(
      100L -> s"$boiler p0 p1 p2 p3 p4 p5",
      101L -> s"$boiler p0 p1 p2 p3 p4 q5",
      200L -> boiler, 201L -> boiler,
      202L -> boiler.split(" ").drop(1).mkString(" "),
      300L -> "x0 x1 x2 x3 x4 x5 x6 x7 x8 x9",
      301L -> "x0 x1 x2 x3 x4 x5 x6 x7 x8 y9",
      302L -> "x0 x1 x2 x3 x4 x5 x6 x7 z8 z9",
      400L -> "two words")
  }

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_dfcap").toString
    corpus.toDF("doc_id", "text").coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  /** The operators' shingle hash: md5's first 15 hex digits mod 2^31 − 1. */
  private def h64(sh: String): Long = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(sh.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(md5.take(15), 16) % 2147483647L
  }

  private lazy val sets: Map[Long, Set[Long]] = corpus.collect {
    case (id, t) if t.split(" ", -1).length >= 3 =>
      id -> t.split(" ", -1).sliding(3).map(w => h64(w.mkString(" "))).toSet
  }.toMap
  private lazy val df: Map[Long, Int] =
    sets.values.toSeq.flatten.groupBy(identity).view.mapValues(_.size).toMap
  /** Each doc's hashes in (df, h) rarity order. */
  private lazy val ta: Map[Long, Seq[Long]] =
    sets.map { case (d, hs) => d -> hs.toSeq.sortBy(h => (df(h), h)) }
  /** The first `len` of a doc's rarity order, joined with the document
    * frequencies and kept where df ≤ `cap`. */
  private def prefix(d: Long, len: Long, cap: Int): Set[Long] =
    ta(d).take(len.toInt).filter(h => df(h) <= cap).toSet
  private lazy val sameText: Set[(Long, Long)] =
    (for ((a, x) <- corpus; (b, y) <- corpus
          if a < b && x == y && sets.contains(a) && sets.contains(b)) yield (a, b)).toSet
  private def sz(d: Long): Long = sets(d).size.toLong
  private def inter(a: Long, b: Long): Long = (sets(a) & sets(b)).size.toLong
  private lazy val ids = sets.keys.toSeq.sorted

  private def ngramRef(cap: Int): Set[(Long, Long, Long, Double)] = {
    def len(d: Long) = sz(d) - (3 * sz(d) + 9) / 10 + 1
    (for (a <- ids; b <- ids if a < b &&
        ((10 * math.min(sz(a), sz(b)) >= 3 * math.max(sz(a), sz(b)) &&
          (prefix(a, len(a), cap) & prefix(b, len(b), cap)).nonEmpty) ||
          sameText((a, b)));
        i = inter(a, b); j = i.toDouble / (sz(a) + sz(b) - i) if j >= 0.3)
      yield (a, b, i, j)).toSet
  }

  private def prefixJoinRef(cap: Int): Set[(Long, Long, Long, Long, Double)] = {
    def len(d: Long) = sz(d) - (3 * sz(d) + 4) / 5 + 1
    (for (a <- ids; b <- ids if a < b &&
        ((5 * math.min(sz(a), sz(b)) >= 3 * math.max(sz(a), sz(b)) &&
          (prefix(a, len(a), cap) & prefix(b, len(b), cap)).nonEmpty) ||
          sameText((a, b)));
        i = inter(a, b); u = sz(a) + sz(b) - i if 5 * i >= 3 * u)
      yield (a, b, i, u, i.toDouble / u.toDouble)).toSet
  }

  private def containmentRef(cap: Int): Set[(Long, Long, Long, Long, Double)] =
    (for (a <- ids; b <- ids if a != b &&
        ((5 * sz(b) >= 4 * sz(a) &&
          (prefix(a, sz(a) / 5 + 1, cap) & prefix(b, sz(b), cap)).nonEmpty) ||
          sameText((a, b)) || sameText((b, a)));
        i = inter(a, b); c = i * 1.0 / sz(a) if c >= 0.8)
      yield (a, b, sz(a), i, c)).toSet

  private def rows[T](name: String, cols: Seq[String])(implicit
      enc: org.apache.spark.sql.Encoder[T]): Seq[T] =
    SparkEntry.queries(name)(spark, dir).selectExpr(cols: _*).as[T].collect().toSeq

  test("ngram_jaccard_pairs equals the df-join reference under an active cap") {
    // capped counts: below every prefix length, and zero
    assert(Seq(0L, 200L, 202L).map(d => ta(d).count(df(_) <= Cap)) === Seq(2, 0, 0))
    val got = rows[(Long, Long, Long, Double)]("ngram_jaccard_pairs",
      Seq("a_id", "b_id", "inter", "jaccard"))
    assert(got.size === got.toSet.size)
    assert(got.toSet === ngramRef(Cap))
    // the cap prunes: pairs that share only stop-shingles drop out
    assert(ngramRef(Int.MaxValue).size > ngramRef(Cap).size)
    assert(got.toSet.contains((100L, 101L, 15L, 15.0 / 17)))
  }

  test("jaccard_prefix_join equals the df-join reference under an active cap") {
    val got = rows[(Long, Long, Long, Long, Double)]("jaccard_prefix_join",
      Seq("a_id", "b_id", "inter", "uni", "jaccard"))
    assert(got.size === got.toSet.size)
    assert(got.toSet === prefixJoinRef(Cap))
    assert(prefixJoinRef(Int.MaxValue).size > prefixJoinRef(Cap).size)
    assert(got.map(p => (p._1, p._2)).toSet.contains((200L, 201L)))
  }

  test("containment_pairs equals the df-join reference under an active cap") {
    val got = rows[(Long, Long, Long, Long, Double)]("containment_pairs",
      Seq("inner_id", "outer_id", "n_inner", "inter", "containment"))
    assert(got.size === got.toSet.size)
    assert(got.toSet === containmentRef(Cap))
    assert(containmentRef(Int.MaxValue).size > containmentRef(Cap).size)
  }
}
