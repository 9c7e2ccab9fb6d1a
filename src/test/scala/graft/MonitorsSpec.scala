package graft

import org.apache.spark.sql.functions._

/** Laws for the corpus monitors: Heaps-curve vocabulary growth
  * (q_vocab_growth) and the feature-hashing lexical embeddings (q_hash_embed / q_hash_embed_sim).
  * The DuckDB oracle pins the values; these pin the MATHEMATICS — bounds
  * and identities that hold for any corpus, so a formula typo that the
  * synthetic corpus happens to satisfy still fails here. */
class MonitorsSpec extends SparkSuite {

  test("vocab growth: cumulative columns hit the exact corpus totals, vocab monotone") {
    val g = SparkEntry.queries("q_vocab_growth")(spark, sf)
      .orderBy("decile").collect()
    assert(g.length == 10)
    val docs = graft.core.Tables.documents(spark, sf)
    val nDocs = docs.count()
    val nTypes = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select("tok").distinct().count()
    val last = g.last
    assert(last.getAs[Long]("docs_seen") == nDocs)
    assert(last.getAs[Long]("vocab_size") == nTypes,
      "final vocab_size must equal the corpus distinct-type count")
    val sizes = g.map(_.getAs[Long]("vocab_size"))
    assert(sizes.zip(sizes.tail).forall { case (a, b) => a <= b },
      "vocab_size must be monotone along the consumption order")
  }

  test("hash embed: |v| <= n_occ, v == n_occ (mod 2), occurrences partition tokens") {
    val v = SparkEntry.queries("q_hash_embed")(spark, sf).cache()
    val bad = v.filter(abs(col("v")) > col("n_occ") ||
      pmod(col("v") - col("n_occ"), lit(2)) =!= 0).count()
    assert(bad == 0, "each dim's value is a sum of n_occ signs: " +
      "|v| <= n_occ and same parity")
    // every token occurrence lands in exactly one dim
    val perDoc = v.groupBy("doc_id").agg(sum("n_occ").as("occ"))
    val expected = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("""\S+"""), lit(0)))
          .cast("long").as("n_tokens"))
    val mismatch = perDoc.join(expected, "doc_id")
      .filter(col("occ") =!= col("n_tokens")).count()
    assert(mismatch == 0, "sum of per-dim occurrence counts must equal n_tokens")
    v.unpersist()
  }

  test("kmv sketch: small groups fall back to exact, estimates stay bounded") {
    val rows = SparkEntry.queries("q_kmv_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_exact")
      val est = r.getAs[Long]("est_distinct")
      val err = r.getAs[Double]("rel_err")
      if (n < 64) assert(est == n && err == 0.0,
        s"groups below k must report the exact count: $r")
      // k=64 KMV has ~12.7% std error; 6 sigma is a safe determinism-free
      // bound — a wrong estimator (off by 2x) fails, a correct one never
      else assert(math.abs(err) < 0.76, s"estimate implausibly far: $r")
    }
  }

  test("hash embed sim: full strict-upper-triangle matrix, cosine in [-1, 1]") {
    val m = SparkEntry.queries("q_hash_embed_sim")(spark, sf).collect()
    val nSrc = graft.core.Tables.documents(spark, sf)
      .select("source").distinct().count()
    assert(m.length == nSrc * (nSrc - 1) / 2,
      s"expected all ${nSrc * (nSrc - 1) / 2} unordered source pairs")
    m.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("cosine"))) {
        val c = r.getAs[Double]("cosine")
        assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"cosine out of range: $r")
      }
    }
  }

  test("cusum: window formulation equals the clamped recurrence, never negative") {
    // the two-window identity S_t - min(0, S_1..S_t) must replay Page's
    // C_t = max(0, C_{t-1} + y_t) exactly — verify against the naive
    // recurrence re-derived from the query's own (day, cents) output
    val rows = graft.queries.RelationalQueries
      .queries("q_cusum_drift")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val cents = rows.map(_.getLong(1))
    val n = cents.length
    val mu = cents.sum / n
    val k = mu / 100
    var c = 0L
    rows.zipWithIndex.foreach { case (r, i) =>
      c = math.max(0L, c + cents(i) - mu - k)
      assert(r.getLong(3) == c, s"day ${r.getLong(0)}: cusum ${r.getLong(3)} != naive $c")
      assert(r.getLong(3) >= 0L)
      assert(r.getBoolean(4) == (c >= mu / 10))
    }
  }
}
