package graft

import org.apache.spark.sql.functions._

import graft.queries.DedupQueries

/** Cross-query invariants of the corpus-curation flow — the properties a
  * pipeline composing these stages actually relies on, beyond each query's
  * own oracle match. */
class CurationSpec extends SparkSuite {

  test("cluster representative is always a member of its own cluster") {
    val comp = DedupQueries.queries("q_dedup_clusters")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val members = comp.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val reps = DedupQueries.queries("q_dedup_canonical")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(reps.nonEmpty)
    reps.foreach { case (cluster, rep) =>
      assert(members(cluster).contains(rep),
        s"representative $rep not a member of cluster $cluster")
    }
    graft.core.SharedFrames.clear()
  }

  test("KN score: probabilities in (0,1], bigram counts tie to the corpus") {
    val kn = queries.TextQueries.queries("q_kn_score")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(kn.nonEmpty)
    kn.foreach { case (id, nb, score) =>
      assert(nb >= 1, s"doc $id has $nb bigrams")
      assert(score > 0.0 && score <= 1.0, s"doc $id kn_score $score")
    }
    // n_bigrams is exactly (word count - 1) for every multi-word doc, and
    // single-word docs are absent
    val expected = core.Tables.documents(spark, sf)
      .select(col("doc_id"),
        (size(split(trim(col("text")), "\\s+")) - 1).as("nb"))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    kn.foreach { case (id, nb, _) =>
      assert(expected(id) == nb, s"doc $id bigrams $nb vs ${expected(id)}")
    }
    assert(expected.count(_._2 >= 1) == kn.size)
  }

  test("Gopher repetition equals a naive in-memory reimplementation") {
    val got = queries.TextQueries.queries("q_gopher_repetition")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getBoolean(6))).toMap
    val docs = core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(docs.nonEmpty && got.size == docs.length)
    docs.foreach { case (id, text) =>
      val t = text.trim
      val words = t.split("\\s+")
      val total = t.length.toLong
      def gramCounts(n: Int): Map[String, Long] =
        words.sliding(n).map(_.mkString(" ")).toSeq
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
      def topCovered(n: Int): Long = {
        val c = gramCounts(n)
        if (c.isEmpty) 0L
        else { val (g, cnt) = c.minBy { case (g, cnt) => (-cnt, g) }
          cnt * g.length }
      }
      def dupCovered(n: Int): Long =
        gramCounts(n).collect { case (g, cnt) if cnt > 1 => cnt * g.length }
          .sum
      val (t2, t3, t4, d5, d6) = (topCovered(2), topCovered(3), topCovered(4),
        dupCovered(5), dupCovered(6))
      val (g2, g3, g4, g5, g6, keep) = got(id)
      def frac(x: Long) = math.min(x.toDouble / total, 1.0)
      assert(math.abs(g2 - frac(t2)) < 1e-6, s"doc $id top2")
      assert(math.abs(g3 - frac(t3)) < 1e-6, s"doc $id top3")
      assert(math.abs(g4 - frac(t4)) < 1e-6, s"doc $id top4")
      assert(math.abs(g5 - frac(d5)) < 1e-6, s"doc $id dup5")
      assert(math.abs(g6 - frac(d6)) < 1e-6, s"doc $id dup6")
      val wantKeep = t2 * 100 <= total * 20 && t3 * 100 <= total * 18 &&
        t4 * 100 <= total * 16 && d5 * 100 <= total * 15 && d6 * 100 <= total * 14
      assert(keep == wantKeep, s"doc $id keep")
    }
  }

  /** Naive Scala reconstruction of the curation page fixture (must stay
    * character-identical to TextQueries.pageLinesExpr / pageSql). */
  private def naivePage(docId: Long, text: String): Seq[String] = {
    val words = text.trim.split("\\s+").toSeq
    val nLines = (words.size + 6) / 7
    (1 to nLines).map { i =>
      val bullet = if ((docId + 3 * i) % 7 == 0) "- " else ""
      val chunk = words.slice((i - 1) * 7, (i - 1) * 7 + 7).mkString(" ")
      val stops = if ((docId + i) % 9 == 0) " and that with" else ""
      val js = if ((docId + i) % 13 == 0) " javascript" else ""
      val lorem = if (i == 1 && docId % 17 == 0) " lorem ipsum" else ""
      val brace = if (i == 1 && docId % 19 == 0) " {" else ""
      val term = Seq("", ".", "!", "?", ".", "...")(((docId + i) % 6).toInt)
      bullet + chunk + stops + js + lorem + brace + term
    }
  }

  test("Gopher quality gate equals a naive in-memory reimplementation") {
    val got = queries.TextQueries.queries("q_gopher_quality")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(4), r.getBoolean(5),
          r.getBoolean(6), r.getBoolean(7), r.getBoolean(8), r.getBoolean(9),
          r.getBoolean(10), r.getBoolean(11))).toMap
    val docs = core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(docs.nonEmpty && got.size == docs.length)
    val stopList = Set("the", "be", "to", "of", "and", "that", "have", "with")
    docs.foreach { case (id, text) =>
      val lines = naivePage(id, text)
      val page = lines.mkString("\n")
      val pwords = "\\S+".r.findAllIn(page).toSeq
      val nWords = pwords.size.toLong
      val nLines = lines.size.toLong
      val chars = page.replaceAll("\\s+", "").length.toLong
      val nSym = "#|\\.\\.\\.".r.findAllIn(page).size.toLong
      val nBullet = lines.count(_.startsWith("- ")).toLong
      val nEll = lines.count(_.endsWith("...")).toLong
      val nAlpha = pwords.count(_.exists(_.isLetter)).toLong
      val hits = "[a-z]+".r.findAllIn(page.toLowerCase).toSet
        .count(stopList).toLong
      val want = (nWords, nLines,
        nWords >= 50 && nWords <= 100000,
        chars >= nWords * 3 && chars <= nWords * 10,
        nSym * 10 <= nWords,
        nBullet * 10 <= nLines * 9,
        nEll * 10 <= nLines * 3,
        nAlpha * 10 >= nWords * 8,
        hits >= 2)
      val g = got(id)
      assert((g._1, g._2, g._3, g._4, g._5, g._6, g._7, g._8, g._9) == want,
        s"doc $id: $g vs $want")
      assert(g._10 == (g._3 && g._4 && g._5 && g._6 && g._7 && g._8 && g._9),
        s"doc $id composite keep")
    }
  }

  test("C4 filter: every kept line satisfies all three line rules") {
    val rows = queries.TextQueries.queries("q_c4_filters")(spark, sf).collect()
    val docs = core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.nonEmpty)
    var sawDrop = false; var sawEmptyClean = false
    rows.foreach { r =>
      val (id, nLines, nKept) = (r.getLong(0), r.getInt(1), r.getInt(2))
      val (nSent, hasLorem, hasBrace, keep, clean) = (r.getInt(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6), r.getString(7))
      val lines = naivePage(id, docs(id))
      assert(nLines == lines.size, s"doc $id line count")
      val kept = lines.filter(l => ".!?\"".contains(l.takeRight(1)) &&
        "\\S+".r.findAllIn(l).size >= 5 && !l.contains("javascript"))
      assert(nKept == kept.size && clean == kept.mkString("\n"),
        s"doc $id kept lines")
      val sent = kept.map(l => l.count(c => ".!?".contains(c))).sum
      assert(nSent == sent, s"doc $id sentence count")
      assert(hasLorem == lines.mkString("\n").contains("lorem ipsum"))
      assert(hasBrace == lines.mkString("\n").contains("{"))
      assert(keep == (!hasLorem && !hasBrace && sent >= 3), s"doc $id keep")
      if (!keep) sawDrop = true
      if (kept.isEmpty) sawEmptyClean = true
    }
    assert(sawDrop, "fixture never exercised a page drop")
  }

  test("perplexity buckets: per-language terciles differ by at most one") {
    val rows = queries.TextQueries.queries("q_ppl_buckets")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val n = rs.length
      // the rank IS row_number() over (score, doc_id) within the language
      val sorted = rs.sortBy(t => (t._3, t._1))
      sorted.zipWithIndex.foreach { case (t, i) =>
        assert(t._4 == i + 1L, s"$lang rank mismatch at ${t._1}")
        val want = ((i.toLong * 3) / n) match {
          case 2 => "head"; case 1 => "middle"; case _ => "tail"
        }
        assert(t._5 == want, s"$lang bucket mismatch at rank ${i + 1}")
      }
      val sizes = rs.groupBy(_._5).view.mapValues(_.size).toMap
      val vals = Seq("tail", "middle", "head").map(sizes.getOrElse(_, 0))
      assert(vals.max - vals.min <= 1, s"$lang tercile sizes $sizes")
    }
  }

  test("KN p_scaled arithmetic survives corpus-scale counts (no 2^63 wrap)") {
    // adversarial magnitudes: ~1e12 bigram types, Zipf-head n12 ~ 1e12 —
    // the raw long product would wrap; DECIMAL(38,0) must not
    val (n12, t, f1, b2, n1) = (BigInt("1000000000000"),
      BigInt("1000000000000"), BigInt(100000000), BigInt(100000000),
      BigInt("4000000000000"))
    val want = (BigInt("1000000000000") *
      ((4 * n12 - 3) * t + 3 * f1 * b2)) / (4 * n1 * t)
    val got = spark.sql(
      s"""SELECT (1000000000000L * ((4 * CAST(${n12} AS DECIMAL(38,0)) - 3) * ${t}L
         |   + 3 * CAST(${f1} AS DECIMAL(38,0)) * ${b2}L))
         | div (4 * CAST(${n1} AS DECIMAL(38,0)) * ${t}L) AS p""".stripMargin)
      .collect()(0).getLong(0)
    assert(got == want.toLong && got > 0, s"$got vs $want")
  }
}
