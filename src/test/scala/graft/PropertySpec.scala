package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Algebraic invariants (SURVEY.md §5.4) over ScalaCheck-generated data.
  * (Plain scalacheck Gen + fixed seeds — the scalatestplus bridge isn't in
  * the offline dependency cache.)
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val kvGen = Gen.listOfN(60,
    Gen.zip(Gen.oneOf("a", "b", "c", "d"), Gen.choose(0, 5).map(_.toString)))

  test("groupBy(k).count sums to total count") {
    samples(kvGen, 5).foreach { xs =>
      val df = xs.toDF("k", "v")
      val total = df.count()
      val summed = df.groupBy($"k").count().agg(sum($"count")).as[Long].head()
      assert(summed === total)
    }
  }

  test("dropDuplicates is idempotent and matches Scala distinct") {
    samples(kvGen, 5).foreach { xs =>
      val df = xs.toDF("k", "v")
      val d1 = df.dropDuplicates("k", "v")
      val d2 = d1.dropDuplicates("k", "v")
      assert(d1.count() === d2.count())
      assert(d1.count() === xs.distinct.size.toLong)
    }
  }

  test("last-write-wins keeps exactly one row per key") {
    val g = Gen.listOfN(40, Gen.zip(Gen.choose(0, 5), Gen.choose(0L, 100L)))
    samples(g, 5).foreach { xs =>
      val df = xs.toDF("rowkey", "ts")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"rowkey").orderBy($"ts".desc)
      val out = df.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      assert(out.count() === xs.map(_._1).distinct.size.toLong)
    }
  }

  test("cosine(x,x) = 1 under the quantized dot product") {
    val vecs = Seq.tabulate(8)(i =>
      (i.toLong, Array.tabulate(16)(j => ((i * 31 + j * 7) % 13 - 6) / 7.0f)))
      .filter(_._2.exists(_ != 0f))
    val df = vecs.toDF("id", "v")
    val dot = aggregate(
      zip_with($"v", $"v", (x, y) => round(x.cast("double") * y.cast("double") * 1e16).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val cos = df.select(
      (dot.cast("double") / (sqrt(dot.cast("double")) * sqrt(dot.cast("double"))))
        .as[Double])
    cos.collect().foreach(c => assert(math.abs(c - 1.0) < 1e-12))
  }

  test("union-then-distinct equals distinct-of-union (set algebra)") {
    samples(Gen.zip(kvGen, kvGen), 5).foreach { case (xs, ys) =>
      val a = xs.toDF("k", "v")
      val b = ys.toDF("k", "v")
      val lhs = a.unionAll(b).dropDuplicates("k", "v").count()
      val rhs = (xs ++ ys).distinct.size.toLong
      assert(lhs === rhs)
    }
  }

  test("edge-case corpus: empty doc, 1-token doc, cross-language duplicate") {
    // boundary rows the benign driver corpus never produces: an empty text
    // (token_stats' mean_token_len division), a single-token text (bigram/
    // shingle sequence(1, size-k) underflow), and the same text under two
    // langs (exact dedup ∩ lang split)
    val dir = java.nio.file.Files.createTempDirectory("graft_edge").toString
    val dup = "spark filter join scan merge sort"
    Tables.t(spark, sf001, "documents").limit(10)
      .unionAll(Seq(
        (9001L, "", "en", "edge", 0L),
        (9002L, "hello", "en", "edge", 5L),
        (9003L, "hi there", "en", "edge", 8L),
        (9004L, dup, "en", "edge", dup.length.toLong),
        (9005L, dup, "de", "edge", dup.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .write.parquet(s"$dir/documents.parquet")

    // every documents-reading query must run clean over the edge corpus
    val docQueries = Seq("token_stats", "quality_score", "bigram_lm_score",
      "exact_dedup", "ngram_jaccard_pairs", "minhash_signatures", "simhash",
      "dedup_clusters", "lang_id", "doc_fingerprint", "rolling_fingerprint",
      "tf_idf", "term_frequencies", "contamination_check", "train_val_split",
      "stratified_sample", "quality_score", "levenshtein_pairs")
    docQueries.foreach { q =>
      val n = SparkEntry.queries(q)(spark, dir).count()
      assert(n >= 0, q) // no ANSI element_at error, no division blowup
    }

    val ts = SparkEntry.queries("token_stats")(spark, dir)
      .filter($"doc_id" >= 9001L)
      .select($"doc_id", $"n_tokens", $"mean_token_len")
      .as[(Long, Long, Double)].collect()
      .map { case (k, n, m) => k -> ((n, m)) }.toMap
    assert(ts(9001L) === ((1L, 0.0)))   // split("") → [""], len 0
    assert(ts(9002L) === ((1L, 5.0)))
    // no bigram for empty/1-token docs; 1 bigram for the 2-token doc
    val bg = SparkEntry.queries("bigram_lm_score")(spark, dir)
      .select($"doc_id", $"n_bigrams").as[(Long, Long)].collect().toMap
    assert(!bg.contains(9001L) && !bg.contains(9002L))
    assert(bg(9003L) === 1L)
    // the cross-language duplicate collapses in exact dedup (keep-min)
    val dd = SparkEntry.queries("exact_dedup")(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(dd(9004L) === 2L && !dd.contains(9005L))
  }

  test("incremental aggregate maintenance: merged partials over any " +
      "base/delta split equal the one-shot aggregate") {
    // the algebra a materialized-view refresh relies on: per-key
    // (count, sum, min, max) partials from the base table and a delta
    // batch merge by (+, +, min, max) into exactly the full recompute,
    // for every split point — so a 100 TB view refreshes from the delta
    // alone. avg is derived (sum/count), never maintained directly.
    val g = Gen.listOfN(80,
      Gen.zip(Gen.choose(0, 6), Gen.choose(-50L, 100L)))
    samples(g, 3).foreach { xs =>
      val full = xs.toDF("k", "v")
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy($"k").agg(count(lit(1)).as("n"), sum($"v").as("s"),
          min($"v").as("mn"), max($"v").as("mx"))
      val oneShot = agg(full).collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      Seq(0, 13, 40, 80).foreach { cut =>
        val base = agg(xs.take(cut).toDF("k", "v"))
        val delta = agg(xs.drop(cut).toDF("k", "v"))
        val merged = base.unionAll(delta).groupBy($"k")
          .agg(sum($"n").as("n"), sum($"s").as("s"),
            min($"mn").as("mn"), max($"mx").as("mx"))
          .collect()
          .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
          .toMap
        assert(merged === oneShot, s"split at $cut")
      }
    }
  }

  test("jaccard is 1 for identical shingle sets, symmetric bounds hold") {
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"), (3L, "x y z w q r s"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("prop_docs")
    val sh = docs
      .withColumn("toks", split($"text", " "))
      .select($"doc_id", explode(transform(
        sequence(lit(1), size($"toks") - 2),
        i => concat_ws(" ", element_at($"toks", i), element_at($"toks", i + 1),
          element_at($"toks", i + 2)))).as("sh"))
      .distinct()
    val a = sh.select($"doc_id".as("a_id"), $"sh")
    val b = sh.select($"doc_id".as("b_id"), $"sh")
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val inter = a.join(b, "sh").filter($"a_id" < $"b_id")
      .groupBy($"a_id", $"b_id").agg(count(lit(1)).as("i"))
    val jac = inter
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"), "b_id")
      .select($"a_id", $"b_id", ($"i".cast("double") / ($"na" + $"nb" - $"i")).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(jac((1L, 2L)) === 1.0)
    assert(!jac.contains((1L, 3L))) // disjoint shingles → no candidate pair
  }

  test("KvUpsertSink MERGE is split-invariant: any micro-batch partition " +
      "of an op sequence converges to the one-shot merge (the tombstone + " +
      "total-order-survivor design is what makes the fold associative)") {
    import java.sql.Timestamp
    import graft.streaming.KvUpsertSink
    val opGen = Gen.listOfN(50, for {
      k <- Gen.oneOf("k1", "k2", "k3", "k4", "k5")
      sec <- Gen.choose(100L, 115L) // small domain → many ts collisions
      op <- Gen.frequency(3 -> "upsert", 1 -> "delete")
      v <- Gen.choose(0, 9).map("v" + _)
    } yield (k, "cf1", "q", if (op == "delete") null else v,
      new Timestamp(sec * 1000), op))
    val cols = Seq("rowkey", "cf", "qualifier", "cell_value", "ts", "op")
    def tmp() = java.nio.file.Files.createTempDirectory("graft_prop_kv").toString
    def state(s: KvUpsertSink) = s.read(spark)
      .select($"rowkey", $"cell_value").as[(String, String)].collect().toSet
    samples(opGen, 4).zipWithIndex.foreach { case (ops, i) =>
      val oneShot = new KvUpsertSink(tmp() + "/kv")
      oneShot.upsert(spark, ops.toDF(cols: _*))
      // deterministic uneven split into 3 micro-batches (incl. ties
      // straddling the cuts — the case that breaks non-total orders)
      val (c1, c2) = (ops.size / 3 + i % 3, 2 * ops.size / 3)
      val inc = new KvUpsertSink(tmp() + "/kv")
      Seq(ops.take(c1), ops.slice(c1, c2), ops.drop(c2))
        .filter(_.nonEmpty)
        .foreach(b => inc.upsert(spark, b.toDF(cols: _*)))
      assert(state(inc) === state(oneShot), s"sample $i diverged")
      // and compaction at the max ts bound never changes the visible table
      inc.compact(spark, new Timestamp(116 * 1000))
      assert(state(inc) === state(oneShot), s"sample $i changed under compact")
    }
  }
}
