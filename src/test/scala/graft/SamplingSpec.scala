package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.Sampling
import graft.queries.SamplingQueries

/** Laws for the sampling/packing primitives beyond their oracle rows:
  * the two-level rank must equal the naive global window it replaces,
  * the stratified sample must hit exact per-stratum counts, and the
  * pack plan must partition every token stream into exact-budget
  * sequences. */
class SamplingSpec extends SparkSuite {

  test("two-level rank equals the single-window global row_number") {
    val docs = Tables.documents(spark, sf)
    val fast = Sampling.rankedBy(docs, Seq("lang"), "doc_id")
      .select("doc_id", "samp_rank")
    // the naive form: one window per stratum (the single-reducer shape
    // rankedBy exists to avoid) over the same canonical order
    val h = md5(concat(lit("rank_"), col("doc_id").cast("string")))
    val bucket = pmod(conv(substring(h, 1, 4), 16, 10).cast("int"),
      lit(Sampling.RankBuckets))
    val naive = docs
      .withColumn("b", bucket).withColumn("h", h)
      .withColumn("naive_rank",
        row_number().over(Window.partitionBy("lang")
          .orderBy(col("b"), col("h"), col("doc_id"))).cast("long"))
      .select("doc_id", "naive_rank")
    val diff = fast.join(naive, "doc_id")
      .filter(col("samp_rank") =!= col("naive_rank")).count()
    assert(diff == 0L)
  }

  test("stratified sample keeps exactly min-stratum-count docs per lang") {
    val kept = SamplingQueries.queries("q_stratified_sample")(spark, sf)
      .filter(col("keep"))
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = Tables.documents(spark, sf)
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1))
    val cap = sizes.min
    assert(kept.nonEmpty && kept.values.forall(_ == cap), kept.toString)
  }

  test("shuffle order is a permutation of the corpus") {
    val pos = SamplingQueries.queries("q_shuffle_order")(spark, sf)
      .select("pos").collect().map(_.getLong(0)).sorted
    assert(pos.toSeq == (1L to pos.length).toSeq)
  }

  test("pack plan partitions each doc and fills every non-final sequence") {
    val plan = SamplingQueries.queries("q_pack_plan")(spark, sf)
    val docs = Tables.documents(spark, sf)
      .withColumn("n_tokens",
        size(regexp_extract_all(col("text"), lit("""\S+"""), lit(0))))
      .select("doc_id", "n_tokens")
    // per doc: spans are disjoint, contiguous, and cover [0, n_tokens)
    val perDoc = plan.groupBy("doc_id")
      .agg(sum(col("tok_to") - col("tok_from")).as("covered"),
        min("tok_from").as("lo"), max("tok_to").as("hi"))
      .join(docs, "doc_id")
    assert(perDoc.filter(col("covered") =!= col("n_tokens") ||
      col("lo") =!= 0 || col("hi") =!= col("n_tokens")).count() == 0L)
    // per (shard, seq): exactly 128 tokens except the last seq of a shard
    val lastSeq = plan.groupBy("shard").agg(max("seq_id").as("last_seq"))
    val bad = plan.groupBy("shard", "seq_id")
      .agg(sum(col("tok_to") - col("tok_from")).as("fill"))
      .join(lastSeq, "shard")
      .filter(col("seq_id") =!= col("last_seq") && col("fill") =!= 128)
    assert(bad.count() == 0L)
    // no span exceeds the budget
    assert(plan.filter(col("tok_to") - col("tok_from") > 128 ||
      col("tok_from") < 0).count() == 0L)
  }

  test("mix weights: no upsampling, and the smallest-headroom lang binds") {
    val rows = SamplingQueries.queries("q_mix_weights")(spark, sf).collect()
    assert(rows.length >= 2)
    rows.foreach { r =>
      val n = r.getLong(r.fieldIndex("n_docs"))
      val quota = r.getLong(r.fieldIndex("quota"))
      val p = r.getDouble(r.fieldIndex("keep_prob"))
      assert(quota <= n, s"${r.get(0)}: quota $quota > available $n (upsampling)")
      assert(p >= 0.0 && p <= 1.0)
    }
    // M = min(n_l / t_l) means the binding stratum is kept whole
    assert(rows.exists(r =>
      r.getLong(r.fieldIndex("quota")) == r.getLong(r.fieldIndex("n_docs"))))
    // realized mixture matches the target: quota_l / sum(quotas) ~ t_l
    val total = rows.map(_.getLong(rows.head.fieldIndex("quota"))).sum.toDouble
    rows.foreach { r =>
      val share = r.getLong(r.fieldIndex("quota")) / total
      val target = r.getDouble(r.fieldIndex("target_share"))
      assert(math.abs(share - target) < 0.01, s"${r.get(0)}: $share vs $target")
    }
  }

  test("mix upsample: realized per-lang counts hit the integer quota exactly") {
    val docs = Tables.documents(spark, sf)
    val budget = 2L * docs.count()
    val nByLang = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = SamplingQueries.queries("q_mix_upsample")(spark, sf)
    val gotByLang = out.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    nByLang.keys.foreach { lang =>
      val target = budget / (if (lang == "en") 2L else 8L)
      assert(gotByLang.getOrElse(lang, 0L) == target,
        s"$lang: realized ${gotByLang.getOrElse(lang, 0L)} != quota $target")
    }
    // within a language, appearance counts differ by at most 1 (full
    // epochs + one partial pass), and (doc, epoch) rows are unique
    val reps = out.groupBy("lang", "doc_id").count()
    val spreads = reps.groupBy("lang")
      .agg((max("count") - min("count")).as("spread"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    spreads.foreach { case (lang, s) => assert(s <= 1L, s"$lang spread $s") }
    assert(out.distinct().count() == out.count())
  }

  test("temperature mix: exact isqrt under adversarial magnitudes; sqrt flattens") {
    // the envelope-corrected isqrt must be exact where floor(sqrt(double))
    // alone is off by one: perfect squares and their neighbors up at the
    // 2^62 scale where a 53-bit mantissa cannot represent n
    val bigRoot = 3037000499L // isqrt(Long.MaxValue)
    val probes = Seq(0L, 1L, 2L, 3L, 4L, 15L, 16L, 17L,
      (1L << 52) - 1, 1L << 52, (1L << 52) + 1,
      bigRoot * bigRoot - 1, bigRoot * bigRoot, bigRoot * bigRoot + 1)
    import spark.implicits._
    val got = probes.toDF("n_docs")
      .withColumn("cand",
        expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)"))
      .withColumn("w", expr(
        """CASE WHEN CAST(cand + 1 AS DECIMAL(38,0)) * (cand + 1) <= n_docs
          |     THEN cand + 1
          |     WHEN CAST(cand AS DECIMAL(38,0)) * cand > n_docs THEN cand - 1
          |     ELSE cand END""".stripMargin))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    probes.foreach { n =>
      val s = BigInt(got(n))
      assert(s * s <= BigInt(n) && (s + 1) * (s + 1) > BigInt(n),
        s"isqrt($n) = $s")
    }
    // and on the corpus: sqrt compresses shares toward uniform — the
    // dominant language gives up share, the rarest gains, order preserved
    val rows = SparkEntry.queries("q_mix_temperature")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(rows.length >= 2)
    val byRaw = rows.sortBy(_._2)
    assert(byRaw.last._4 <= byRaw.last._3,
      "dominant language did not give up share under temperature")
    assert(byRaw.head._4 >= byRaw.head._3,
      "rarest language did not gain share under temperature")
    assert(byRaw.map(_._4).sorted.toSeq == byRaw.map(_._4).toSeq,
      "temperature scaling reordered the languages")
  }

  test("span mask: in-bounds, non-overlapping, ~15% corruption, reproducible") {
    val rows = SamplingQueries.queries("q_span_mask")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getString(5)))
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq).toMap
    var masked = 0L; var total = 0L
    rows.groupBy(_._1).foreach { case (id, spans) =>
      val words = docs(id)
      // every span inside its own 20-token block, text matches the corpus
      spans.foreach { case (_, b, start, len, text) =>
        assert(len == 3 && start >= b * 20 + 1 && start + 2 <= (b + 1) * 20
          && start + 2 <= words.size, s"doc $id block $b out of bounds")
        assert(text == words.slice(start.toInt - 1, start.toInt + 2).mkString(" "),
          s"doc $id block $b text mismatch")
      }
      // non-overlap: distinct blocks imply distinct, disjoint spans
      assert(spans.map(_._2).distinct.length == spans.length)
      masked += spans.length * 3L; total += words.size
    }
    // corruption rate near the 3/20 target: full blocks mask exactly 15%,
    // a trailing partial block of 4-19 tokens masks 3 of them, so the
    // corpus rate lands in (0.10, 0.25] depending on doc-length mix
    val rate = masked.toDouble / total
    assert(rate > 0.10 && rate <= 0.25, s"corruption rate $rate")
    // determinism: identical plan re-run yields the identical mask
    val again = SamplingQueries.queries("q_span_mask")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.map(t => (t._1, t._2, t._3)).toSeq == again.toSeq)
  }

  test("quality prune keeps ~70% of the corpus") {
    val rows = graft.queries.TextQueries.queries("q_quality_prune")(spark, sf)
      .collect()
    val kept = rows.count(_.getBoolean(rows.head.fieldIndex("keep")))
    val frac = kept.toDouble / rows.length
    assert(frac >= 0.65 && frac <= 0.75, s"keep fraction $frac")
  }

  test("quantization error is bounded by half a code step per dimension") {
    val rows = graft.queries.SimilarityQueries
      .queries("q_embed_quant")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getDouble(r.fieldIndex("qscale"))
      val mse = r.getDouble(r.fieldIndex("mse"))
      // per-dim error <= scale/2  =>  mse <= scale^2/4 (+ rounding slack)
      assert(mse <= scale * scale / 4 + 1e-9, s"vec ${r.get(0)}: mse=$mse scale=$scale")
    }
  }

  test("priority sample: the threshold property and weight monotonicity hold") {
    import org.apache.spark.sql.functions._
    val sample = SparkEntry.queries("q_priority_sample")(spark, sf).collect()
    assert(sample.length == 64)
    // defining property of a k-minimum selection: every sampled priority
    // is <= every unsampled one (ties resolved by doc_id, checked via the
    // oracle hash; here the strict threshold suffices)
    val maxSampled = sample.map(_.getAs[Long]("priority")).max
    val sampledIds = sample.map(_.getAs[Long]("doc_id")).toSet
    val minUnsampled = graft.core.Tables.documents(spark, sf)
      .withColumn("w", greatest(
        size(regexp_extract_all(col("text"), lit("""\S+"""), lit(0)))
          .cast("long"), lit(1L)))
      .withColumn("h",
        conv(substring(md5(concat(lit("ps_"), col("doc_id").cast("string"))),
          1, 8), 16, 10).cast("long"))
      .withColumn("priority", expr("h div w"))
      .filter(!col("doc_id").isInCollection(sampledIds.toSeq))
      .agg(min("priority")).head().getLong(0)
    assert(maxSampled <= minUnsampled,
      s"sample is not the k-minimum set: $maxSampled > $minUnsampled")
    // determinism: a second run returns the identical sample
    val again = SparkEntry.queries("q_priority_sample")(spark, sf).collect()
    assert(sample.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("fim plan: split partitions the doc, middle bounded, content-pinned") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_fim_plan")(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"),
        split(trim(col("text")), "\\s+").as("words")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    rows.foreach { r =>
      val (id, n, p, m, suf) = (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("n_prefix"),
        r.getAs[Long]("n_middle"), r.getAs[Long]("n_suffix"))
      assert(p + m + suf == n, s"doc $id: split does not partition the doc")
      assert(m >= 1 && m <= n / 3, s"doc $id: middle length $m out of bounds")
      assert(p >= 0 && suf >= 0, s"doc $id: negative segment")
      assert(r.getAs[Long]("train_len") == n + 3)
      assert(Set("psm", "spm")(r.getAs[String]("mode")))
      // content pin: middle_head is the (p+1)-th token of the doc
      assert(r.getAs[String]("middle_head") == docs(id)((p).toInt),
        s"doc $id: middle_head diverged from the split point")
    }
    // determinism: re-derivation is identical
    val again = SparkEntry.queries("q_fim_plan")(spark, sf).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("rendezvous resharding moves docs only onto the new shard") {
    val rows = SparkEntry.queries("q_shard_assign")(spark, sf).collect()
    assert(rows.length == 9)
    val byShard = rows.map(r => r.getInt(0) -> r).toMap
    // shard 8 does not exist at S=8
    assert(byShard(8).getLong(1) == 0L)
    // the HRW minimal-move property: no doc moves BETWEEN old shards --
    // growing the candidate set can only flip an argmax to the newcomer
    (0 to 7).foreach { s =>
      assert(byShard(s).getLong(3) == 0L, s"HRW moved a doc into old shard $s")
    }
    val n = rows.map(_.getLong(2)).sum            // corpus size
    val hrwMoved = rows.map(_.getLong(3)).sum     // == everything shard 8 got
    assert(hrwMoved == byShard(8).getLong(2))
    assert(hrwMoved <= n / 3, s"HRW moved $hrwMoved of $n - expected ~n/9")
    // mod-hashing reshuffles the large majority of the corpus
    val modMoved = rows.map(_.getLong(4)).sum
    assert(modMoved > n / 2, s"mod resharding moved only $modMoved of $n")
  }

  test("curriculum order: tier-contiguous permutation with balanced terciles") {
    val rows = SparkEntry.queries("q_curriculum_order")(spark, sf).collect()
    val n = rows.length
    assert(n > 0)
    // pos is a permutation of 1..n
    assert(rows.map(_.getAs[Long]("pos")).sorted.toSeq == (1L to n).toSeq)
    // grank is also a permutation (the global difficulty rank)
    assert(rows.map(_.getAs[Long]("grank")).sorted.toSeq == (1L to n).toSeq)
    // the schedule presents whole tiers in order: every tier-0 position
    // precedes every tier-1 position precedes every tier-2 position
    val byTier = rows.groupBy(_.getAs[Int]("tier"))
    assert(byTier.keySet == Set(0, 1, 2))
    assert(byTier(0).map(_.getAs[Long]("pos")).max <
      byTier(1).map(_.getAs[Long]("pos")).min)
    assert(byTier(1).map(_.getAs[Long]("pos")).max <
      byTier(2).map(_.getAs[Long]("pos")).min)
    // exact-rank terciles: sizes differ by at most one
    val sizes = byTier.view.mapValues(_.length).values
    assert(sizes.max - sizes.min <= 1, sizes.toSeq.toString)
    // tiers follow the global rank: tier = ((grank-1)*3) div n
    rows.foreach { r =>
      assert(r.getAs[Int]("tier") == ((r.getAs[Long]("grank") - 1) * 3 / n).toInt)
    }
  }
}
