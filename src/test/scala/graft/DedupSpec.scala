package graft

import org.apache.spark.sql.functions._
import graft.functions.SimHash
import graft.ops.{Dedup, Similarity}

/** Unit-level checks for the dedup/similarity kernels. */
class DedupSpec extends SparkSuite {
  import spark.implicits._

  test("simhash: identical text -> identical hash; near text -> small hamming") {
    val a = SimHash.computeString("the quick brown fox jumps over the lazy dog")
    val b = SimHash.computeString("the quick brown fox jumps over the lazy dog")
    val c = SimHash.computeString("the quick brown fox jumps over the lazy cat")
    val d = SimHash.computeString("completely different words entirely here now")
    assert(a == b)
    assert(java.lang.Long.bitCount(a ^ c) < java.lang.Long.bitCount(a ^ d))
  }

  test("simhash expression equals driver-side computation") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"), SimHash.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == SimHash.computeString("alpha beta gamma"))
    assert(got(2L) == SimHash.computeString("delta epsilon zeta"))
  }

  test("shingles: word 3-grams, distinct, short docs yield none") {
    val df = Seq((1L, "a b c d"), (2L, "x y")).toDF("doc_id", "text")
    val sh = Dedup.shingles(df).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(sh.toSet == Set((1L, "a b c"), (1L, "b c d")))
  }

  test("jaccard pairs: identical docs have jaccard 1.0") {
    val df = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "q r s t u"))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(Dedup.shingles(df), 0.9).collect()
    assert(pairs.length == 1)
    val r = pairs(0)
    assert(r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L)
    assert(math.abs(r.getAs[Double]("jaccard") - 1.0) < 1e-12)
  }

  test("ppjoin prefix filter is lossless: pairs == naive all-pairs threshold join") {
    // corpus with near-dups at several sizes, partial overlaps below
    // threshold, and shared hot shingles that the prefix must NOT need
    val docs = Seq(
      1L -> "a b c d e f g h i j",
      2L -> "a b c d e f g h i j",          // exact dup of 1
      3L -> "a b c d e f g h i k",          // near-dup of 1 (J = 7/9? close)
      4L -> "a b c d e q r s t u",          // partial overlap, below 0.8
      5L -> "m n o p q r s t u v w x",      // unrelated
      6L -> "m n o p q r s t u v w x",      // exact dup of 5
      7L -> "z z1 z2 a b c z3 z4 z5 z6"     // shares the hot 'a b c' only
    ).toDF("doc_id", "text")
    val sh = Dedup.shingles(docs)
    val got = Dedup.prefixJaccardPairs(sh, 4, 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // naive reference: full all-pairs overlap with the same integer verify
    val naive = Dedup.jaccardPairs(sh, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == naive, s"prefix filter changed the pair set: $got vs $naive")
    assert(got.contains((1L, 2L)) && got.contains((5L, 6L)),
      "planted exact dups missing")
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L),
      "below-threshold partial overlap leaked through")
  }

  test("ppjoin losslessness holds on the real corpus, not just planted cases") {
    val sh = Dedup.shingles(graft.core.Tables.documents(spark, sf))
    val got = Dedup.prefixJaccardPairs(sh, 4, 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val naive = Dedup.jaccardPairs(sh, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(naive.nonEmpty)
    assert(got == naive,
      s"prefix filter changed the real-corpus pair set: missing=${(naive -- got).take(5)} " +
        s"extra=${(got -- naive).take(5)}")
  }

  test("tfidf cosine: identical docs 1.0; rare-feature overlap outranks common") {
    val df = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"),        // identical -> cosine 1
      (3L, "a b c q r"), (4L, "a b c s t"),        // overlap only on the stop-ish "a b c"
      (5L, "u v w x y"), (6L, "u v w x z")).toDF("doc_id", "text")
    val pairs = Dedup.tfidfCosinePairs(Dedup.shingles(df), dfMax = 20, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(math.abs(pairs((1L, 2L)) - 1.0) < 1e-9)
    // all cosines in [0, 1]
    assert(pairs.values.forall(c => c >= 0.0 && c <= 1.0 + 1e-9))
    // (5,6) share rare shingles "u v w"/"v w x" (df=2); (3,4) share "a b c"
    // which four docs carry (df=4) -> idf weighting must rank (5,6) higher
    assert(pairs((5L, 6L)) > pairs((3L, 4L)))
    // unweighted jaccard sees both pairs as the same 1-of-5... sanity that
    // the weighting (not the raw overlap count) produced the gap
    assert(pairs((3L, 4L)) > 0.0)
  }

  test("tfidf cosine matches a driver-side brute-force computation (unigram law)") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma zeta"),
      (3L, "alpha omega psi chi"), (4L, "beta omega psi phi"))
    val feats = docs.flatMap { case (id, t) => t.split(' ').distinct.map(id -> _) }
    val df = feats.toDF("doc_id", "shingle")
    val got = Dedup.tfidfCosinePairs(df, dfMax = 20, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val dfCount = feats.groupBy(_._2).map { case (f, xs) => f -> xs.size }
    def w(f: String): Double = 1.0 / dfCount(f)
    val sets = docs.map { case (id, t) => id -> t.split(' ').distinct.toSet }.toMap
    for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
    } {
      val dot = (sa & sb).toSeq.map(f => w(f) * w(f)).sum
      val exp = dot / math.sqrt(sa.toSeq.map(f => w(f) * w(f)).sum *
        sb.toSeq.map(f => w(f) * w(f)).sum)
      assert(math.abs(got((ia, ib)) - exp) < 1e-6, s"pair ($ia,$ib)")
    }
  }

  test("minhash LSH finds the planted near-dup that brute force finds") {
    val docs = Tables0.documents(spark, sf)
    val sh = Dedup.shingles(docs)
    val brute = Dedup.jaccardPairs(sh, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Dedup.withBands(Dedup.minhashSignatures(sh, 8), 8, 2)
    val lsh = Dedup.verifyCandidates(Dedup.bandCandidates(banded, 4), sh, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // high-similarity pairs should survive LSH banding (0.8^2 per band,
    // 4 bands -> ~miss probability (1-0.64)^4 ~ 1.7%)
    assert(brute.nonEmpty)
    assert((brute -- lsh).size <= math.max(1, brute.size / 5),
      s"LSH missed too many: ${(brute -- lsh).size} of ${brute.size}")
  }

  test("length-pruned band candidates: verified result identical, candidates subset") {
    // corpus law at two thresholds + a planted size-boundary fixture:
    // docs whose size ratio sits just under/over the threshold, sharing
    // enough shingles to band-collide
    val docs = Tables0.documents(spark, sf)
    val corpus = Dedup.shingles(docs)
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val planted = Seq(
      (1L, base),                                    // 40 features
      (2L, base),                                    // exact dup: ratio 1
      (3L, (1 to 30).map(i => s"tok$i").mkString(" ")), // ratio 0.75 vs 1
      (4L, (1 to 27).map(i => s"tok$i").mkString(" ")), // ratio 0.675 vs 1
      (5L, (1 to 28).map(i => s"tok$i").mkString(" "))  // ratio 0.7 exactly
    ).toDF("doc_id", "text")
    for (sh <- Seq(corpus, Dedup.shingles(planted)); t <- Seq(0.7, 0.8)) {
      val banded = Dedup.withBands(
        Dedup.minhashSignatures(sh, 8, withSize = true), 8, 2)
      val raw = Dedup.bandCandidates(banded.drop("sz"), 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val pruned = Dedup.bandCandidatesLengthPruned(banded, 4, t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pruned.subsetOf(raw), s"prune added pairs at t=$t")
      def verified(c: org.apache.spark.sql.DataFrame) =
        Dedup.verifyCandidates(c, sh, t)
          .select("id_a", "id_b", "jaccard").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(verified(Dedup.bandCandidates(banded.drop("sz"), 4)) ==
        verified(Dedup.bandCandidatesLengthPruned(banded, 4, t)),
        s"verified sets differ at t=$t")
    }
  }

  test("independent minhash slots: candidate recall >= windowed variant") {
    // planted corpus: 40 base docs, each with a near-dup variant (one
    // word changed out of ~20 -> shingle jaccard ~0.85); plus noise docs
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = (0 until 40).flatMap { i =>
      val base = words.split(' ').map(w => s"$w$i").mkString(" ")
      val variant = base.replaceFirst(s"pi$i", s"pip$i")
      Seq((i * 2L, base), (i * 2L + 1, variant))
    } ++ (1000L until 1020L).map(j => (j, s"noise doc number $j " * 4))
    val df = docs.toDF("doc_id", "text")
    val sh = Dedup.shingles(df)
    val truth = Dedup.jaccardPairs(sh, 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def candidates(independent: Boolean): Set[(Long, Long)] = {
      val banded = Dedup.withBands(
        Dedup.minhashSignatures(sh, 8, independent = independent), 8, 2)
      Dedup.bandCandidates(banded, 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val indep = candidates(independent = true)
    val windowed = candidates(independent = false)
    assert(truth.nonEmpty)
    val recallIndep = (truth intersect indep).size.toDouble / truth.size
    val recallWin = (truth intersect windowed).size.toDouble / truth.size
    assert(recallIndep >= recallWin,
      s"independent slots recalled $recallIndep < windowed $recallWin")
    assert(recallIndep >= 0.8, s"independent recall too low: $recallIndep")
    graft.core.SharedFrames.clear()
  }

  test("winnow: deterministic; shared long substrings share fingerprints") {
    import graft.functions.Winnow
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val a = Winnow.fingerprintsString(base)
    assert(a.sameElements(Winnow.fingerprintsString(base)))
    assert(a.nonEmpty)
    // winnowing guarantee: a common substring of length >= W+K-1 (23 chars)
    // yields at least one shared selected fingerprint
    val other = "prefix text here " + base.substring(5, 45) + " totally different tail"
    val b = Winnow.fingerprintsString(other)
    assert(a.toSet.intersect(b.toSet).nonEmpty)
    // unrelated strings share nothing
    val c = Winnow.fingerprintsString("zebra xylophone quartz vortex jungle mystery")
    assert(a.toSet.intersect(c.toSet).isEmpty)
  }

  test("winnow hashes by codepoint (non-BMP parity with SQL unicode())") {
    // surrogate-pair char: charAt-based iteration would see 11 units and
    // hash the two surrogate halves; codepoint iteration (what DuckDB's
    // unicode()/len() see) must see 10 codepoints
    val s = "ab🦜cdefghi" // a b 🦜 c d e f g h i
    val cps = s.codePoints().toArray.toSeq
    assert(cps.length == 10 && s.length == 11)
    // slow reference: polynomial k-gram hash over codepoints mod 2^61-1;
    // 3 k-grams and nGrams <= W, so the output is the single global min
    val M = BigInt((1L << 61) - 1)
    val B = BigInt(1000003L)
    def kgramHash(window: Seq[Int]): Long =
      window.foldLeft(BigInt(0))((h, c) => (h * B + c) mod M).toLong
    val expected = (0 to 2).map(i => kgramHash(cps.slice(i, i + 8))).min
    assert(graft.functions.Winnow.fingerprintsString(s).toSeq == Seq(expected))
  }

  test("winnow expression matches driver-side computation") {
    val df = Seq((1L, "some reasonably long text for fingerprint extraction here"))
      .toDF("doc_id", "text")
    val got = df.select(graft.functions.Winnow.winnow(col("text")).as("fps"))
      .collect()(0).getSeq[Long](0)
    assert(got == graft.functions.Winnow
      .fingerprintsString("some reasonably long text for fingerprint extraction here").toSeq)
  }

  test("incremental pairs == full pairs restricted to batch-touching (law)") {
    val docs = core.Tables.documents(spark, sf)
    val sh = Dedup.shingles(docs, maxShingleFreq = Some(20))
    val isNew = col("doc_id") % 10 === 9
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(r.fieldIndex("id_a")), r.getLong(r.fieldIndex("id_b")),
        r.getDouble(r.fieldIndex("jaccard")))
    val incr = Dedup.incrementalJaccardPairs(sh.filter(!isNew), sh.filter(isNew), 0.8)
      .collect().map(key).toSet
    val full = Dedup.jaccardPairs(sh, 0.8)
      .filter(col("id_a") % 10 === 9 || col("id_b") % 10 === 9)
      .collect().map(key).toSet
    assert(incr == full, s"incremental lost or invented pairs: " +
      s"missing=${(full -- incr).take(3)} extra=${(incr -- full).take(3)}")
  }

  test("incremental simhash == full simhash restricted to batch-touching (law)") {
    val docs = core.Tables.documents(spark, sf)
    val idx = Dedup.simhashIndex(docs)
    val isNew = col("doc_id") % 10 === 9
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(r.fieldIndex("id_a")), r.getLong(r.fieldIndex("id_b")),
        r.getAs[Number](r.fieldIndex("hamming")).longValue)
    val incr = Dedup.incrementalSimhashPairs(idx.filter(!isNew), idx.filter(isNew), 3)
      .collect().map(key).toSet
    val full = Dedup.simhashPairs(docs, 3)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .filter(col("id_a") % 10 === 9 || col("id_b") % 10 === 9)
      .collect().map(key).toSet
    assert(incr == full, s"incremental simhash lost or invented pairs: " +
      s"missing=${(full -- incr).take(3)} extra=${(incr -- full).take(3)}")
    graft.core.SharedFrames.clear()
  }

  test("connected components of an empty pair frame is empty (no NPE)") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty).count() == 0)
    graft.core.SharedFrames.clear()
  }

  test("connected components: chains collapse, min label wins, singleton-free") {
    // 1-2, 2-3 chain -> one cluster rooted at 1 (even though (1,3) was
    // never a direct pair); 5-6 separate; 8-9, 9-7 -> root 7 via the chain
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 7L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      7L -> 7L, 8L -> 7L, 9L -> 7L))
    graft.core.SharedFrames.clear()
  }

  test("connected components: long chain needs (and survives) many rounds") {
    // a path graph 100-101-...-112 (diameter 12): the min label must walk
    // the whole chain, so this actually exercises multi-round convergence
    // — planted-dup graphs are near-cliques that converge in ~1 round
    val chain = (100L until 112L).map(k => (k, k + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 13 && got.values.forall(_ == 100L))
    // a maxIters below the diameter must fail loudly, not return partial
    // clusters
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIters = 3).count()
    }
    graft.core.SharedFrames.clear()
  }

  test("connected components: reliable checkpoint mode gives the same result") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    val chain = (200L until 206L).map(k => (k, k + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(chain, reliable = true).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 7 && got.values.forall(_ == 200L))
    graft.core.SharedFrames.clear()
  }

  def rddCheckpointDirs(root: java.nio.file.Path): Seq[String] = {
    // the checkpoint root nests one level of app-id dir above the rdd-* dirs
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("rdd-")).map(_.toString)
      .toSeq
  }

  /** The graph ops take a persisted pair frame and its row count, as the
    * registered queries pass their session-shared pair frames. */
  def persistedPairs(pairs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Long) = {
    val p = graft.core.SharedFrames.register(pairs)
    (p, p.count())
  }

  test("reliable CC: superseded per-round checkpoints are deleted (no leak)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-leak")
    spark.sparkContext.setCheckpointDir(dir.toString)
    // diameter-12 path: the loop runs many rounds, so a leak would leave
    // one rdd-* dir per round; hygiene keeps only the live tail
    val chain = (300L until 312L).map(k => (k, k + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(chain, reliable = true).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 13 && got.values.forall(_ == 300L))
    val left = rddCheckpointDirs(dir)
    assert(left.size <= 2, s"leaked checkpoint rounds: $left")
    graft.core.SharedFrames.clear()
  }

  test("graph ops: reliable checkpoint parity with local mode, no leaked rounds") {
    // path + shortcut graph reused across all three ops; every op must
    // return identical rows in reliable mode, leaving at most the final
    // round's checkpoint dir behind
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (1L, 5L))
      .toDF("id_a", "id_b")
    val seeds = Seq(Tuple1(1L)).toDF("doc_id")
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] =
      df.collect().toSeq.sortBy(_.toString)

    val (p, n) = persistedPairs(pairs)
    val prLocal = sorted(graft.ops.Graph.pageRank(p, iters = 5, knownSize = n))
    val lpaLocal = sorted(graft.ops.Graph.labelPropagation(p, iters = 4, knownSize = n))
    val hopLocal = sorted(graft.ops.Graph.hopDistances(p, seeds, maxHops = 3, knownSize = n))
    graft.core.SharedFrames.clear()

    type Run = (org.apache.spark.sql.DataFrame, Long) => org.apache.spark.sql.DataFrame
    for ((name, run) <- Seq[(String, Run)](
      ("pageRank", (p, n) => graft.ops.Graph.pageRank(p, iters = 5, reliable = true, knownSize = n)),
      ("labelPropagation", (p, n) => graft.ops.Graph.labelPropagation(p, iters = 4, reliable = true, knownSize = n)),
      ("hopDistances", (p, n) => graft.ops.Graph.hopDistances(p, seeds, maxHops = 3, reliable = true, knownSize = n)))) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-$name-ckpt")
      spark.sparkContext.setCheckpointDir(dir.toString)
      val reliableRows = sorted(run.tupled(persistedPairs(pairs)))
      val expected = name match {
        case "pageRank" => prLocal
        case "labelPropagation" => lpaLocal
        case _ => hopLocal
      }
      assert(reliableRows == expected, s"$name reliable mode diverged")
      val left = rddCheckpointDirs(dir)
      assert(left.size <= 1, s"$name leaked checkpoint rounds: $left")
      graft.core.SharedFrames.clear()
    }
  }

  test("reliable mode without a checkpoint dir fails loudly up front") {
    val sc = spark.sparkContext
    val saved = sc.getCheckpointDir
    // simulate the misconfigured-cluster case: no durable checkpoint dir
    sc.setCheckpointDir(null)
    try intercept[IllegalArgumentException] {
      val (p, n) = persistedPairs(Seq((1L, 2L)).toDF("id_a", "id_b"))
      graft.ops.Graph.pageRank(p, iters = 2, reliable = true, knownSize = n)
    } finally saved.foreach(sc.setCheckpointDir)
  }

  test("label propagation: bridged cliques form two communities where CC merges them") {
    // two triangles joined by a single bridge edge 3-10
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (3L, 10L)
    ).toDF("id_a", "id_b")
    val (p, n) = persistedPairs(pairs)
    val got = graft.ops.Graph.labelPropagation(p, iters = 4, knownSize = n)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 6)
    assert(got(1L) == got(2L) && got(2L) == got(3L), s"left clique split: $got")
    assert(got(10L) == got(11L) && got(11L) == got(12L), s"right clique split: $got")
    assert(got(1L) != got(10L), s"bridge merged the cliques: $got")
    // CC on the same graph reports ONE component — LPA is strictly finer here
    val cc = Dedup.connectedComponents(pairs)
      .select("cluster_id").distinct().count()
    assert(cc == 1L)
  }

  test("bfs hop distances: min distance wins, horizon excludes the tail") {
    // chain 1-2-3-4-5-6 plus a 1-5 shortcut; seed = {1}, radius 3
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (1L, 5L))
      .toDF("id_a", "id_b")
    val seeds = Seq(Tuple1(1L)).toDF("doc_id")
    val (p, n) = persistedPairs(pairs)
    val got = graft.ops.Graph.hopDistances(p, seeds, maxHops = 3, knownSize = n)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 5L -> 1L, 3L -> 2L, 4L -> 2L, 6L -> 2L),
      s"wrong distances: $got")
    // radius 1 cuts everything past the direct neighbors
    val r1 = graft.ops.Graph.hopDistances(p, seeds, maxHops = 1, knownSize = n)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 0L, 2L -> 1L, 5L -> 1L), s"radius-1 wrong: $r1")
  }

  test("pagerank: hub outranks leaves; integer recurrence matches driver replay") {
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L), (10L, 11L))
    val (p, nPairs) = persistedPairs(pairs.toDF("id_a", "id_b"))
    val got = graft.ops.Graph.pageRank(p, iters = 5, knownSize = nPairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    // exact driver replay of the integer recurrence
    val und = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
    val nodes = und.map(_._1).distinct.sorted
    val deg = und.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val in = und.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    val scale = 1000000000000000L
    val n = nodes.size.toLong
    val base = scale * 15 / (100 * n)
    var r = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to 5)
      r = nodes.map(v => v ->
        (base + 85 * in(v).map(u => r(u) / deg(u)).sum / 100)).toMap
    assert(got.keySet == nodes.toSet)
    nodes.foreach(v => assert(got(v) == (deg(v), r(v)), s"node $v"))

    // structure: the hub is the most central; symmetric leaves tie
    assert(got(0L)._2 > got(1L)._2)
    assert(got(1L)._2 == got(2L)._2 && got(2L)._2 == got(3L)._2)
    assert(got(10L)._2 == got(11L)._2)
    // mass conservation up to bounded floor loss (1 unit per div per round)
    val total = got.values.map(_._2).sum
    assert(total <= scale && total > scale - 1000L)
  }

  test("covariance matrix matches driver-side exact computation") {
    val vecs = Seq(
      0L -> Seq(0.25f, 0.5f, -0.75f),
      1L -> Seq(0.5f, -0.25f, 0.125f),
      2L -> Seq(-0.125f, 0.75f, 0.5f),
      3L -> Seq(0.375f, 0.0f, -0.5f))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.covarianceMatrix(Similarity.covarianceNumerators(df)).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val n = vecs.size
    val xs = vecs.map(_._2.map(_.toDouble))
    for (i <- 0 until 3; j <- i until 3) {
      val sij = xs.map(v => v(i) * v(j)).sum
      val si = xs.map(_(i)).sum
      val sj = xs.map(_(j)).sum
      val exp = sij / n - (si / n) * (sj / n)
      assert(math.abs(got((i, j)) - exp) < 1e-12, s"cov($i,$j)")
    }
    assert(got.size == 6) // upper triangle of 3x3
    (0 until 3).foreach(i => assert(got((i, i)) >= 0.0))
  }

  test("pc1 power iteration recovers a planted dominant direction") {
    // corpus concentrated along u = (0.6, 0.8, 0, 0) with small noise in
    // an orthogonal coordinate; all magnitudes >= 2^-20 or exactly 0, so
    // the 2^44 integer scaling is exact
    val vecs = (1 to 40).map { k =>
      val t = (k % 5 + 1).toDouble
      val w = if (k % 2 == 0) 0.01 * (k % 7) else -0.01 * (k % 7)
      k.toLong -> Seq((0.6 * t).toFloat, (0.8 * t).toFloat, w.toFloat, 0.0f)
    }
    val got = Similarity.pc1PowerIteration(
        Similarity.covarianceNumerators(vecs.toDF("vec_id", "embedding")))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val v = (0 until 4).map(got)
    assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9)
    // cosine with the planted direction (sign of PC1 is arbitrary)
    val cos = math.abs(v(0) * 0.6 + v(1) * 0.8)
    assert(cos > 0.999, s"cos=$cos v=$v")
  }

  test("pc1 projection equals the per-row dot with the unit component vector") {
    val vecs = (1 to 20).map { k =>
      val t = (k % 4 + 1).toDouble
      k.toLong -> Seq((0.6 * t).toFloat, (0.8 * t).toFloat, 0.25f, 0.0f)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val cnum = Similarity.covarianceNumerators(df)
    val pc1 = Similarity.pc1PowerIteration(cnum)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val got = Similarity.pc1Projection(df, cnum)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    vecs.foreach { case (id, xs) =>
      val exp = xs.zipWithIndex.map { case (x, i) => x.toDouble * pc1(i) }.sum
      assert(math.abs(got(id) - exp) < 1e-6, s"vec $id: ${got(id)} vs $exp")
    }
  }

  test("ivf: high recall vs brute-force top-k at test scale") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val brute = Similarity.cosineTopK(emb, col("vec_id") < 5, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, col("vec_id") < 5, 5, nCentroids = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty && ivf.nonEmpty)
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall too low (probing 3/8 lists)")
  }

  test("ivf+pq: probing retains most of the full-ADC top-k") {
    // the composition property: IVF probing restricts the CANDIDATES the
    // ADC ranker sees, so the right yardstick is full-corpus ADC
    // (pqTopK), not cosine brute force — the 4x4 codebooks are only 8
    // bits/vector, so ADC-vs-cosine divergence is the quantizer's
    // documented cost (q_sim_pq pins it), not the composition's
    val emb = graft.core.Tables.embeddings(spark, sf)
    val fullAdc = Similarity.pqTopK(emb, col("vec_id") < 5, topK = 5,
        m = 4, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val composed = Similarity.ivfPqTopK(emb, col("vec_id") < 5, topK = 5,
        nCentroids = 8, nProbe = 3, m = 4, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fullAdc.nonEmpty && composed.nonEmpty)
    val retained = fullAdc.intersect(composed).size.toDouble / fullAdc.size
    assert(retained >= 0.5,
      s"probing 3/8 lists retained only $retained of the full-ADC top-k")
  }

  test("ivf: salted probe join spreads a hot list without changing results") {
    // deliberately clustered corpus: every vector sits in one tight cone,
    // so a single centroid list captures (almost) everything — the
    // hot-list skew case where the unsalted probe join becomes one
    // straggler task
    val rows = (0L until 200L).map { i =>
      val v = Array.fill(64)(1.0f)
      v((i % 64).toInt) += 0.01f * (i % 7)
      (i, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    def run(salt: Int) =
      Similarity.ivfSeededTopK(emb, col("vec_id") < 3, k = 5,
        nCentroids = 4, nProbe = 2, listSalt = salt)
    val unsalted = run(1)
    val salted = run(8)
    // the salted plan joins on the compound (list_id, salt) key — 8x the
    // shuffle-key cardinality of the hot list
    assert(salted.queryExecution.executedPlan.toString.contains("salt"))
    assert(!unsalted.queryExecution.executedPlan.toString.contains("salt#"))
    val a = unsalted.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val b = salted.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(a == b && a.nonEmpty, "salting must not change the top-k result")
    graft.core.SharedFrames.clear()
  }

  test("dbscan: planted graph yields the textbook core/border/noise roles") {
    // triangle {1,2,3} (all core at minPts=2), pendant 4 off 1 (border),
    // isolated pair 5-6 (degree 1 each: noise), singleton 7 (noise),
    // shared border 8 attached to cores 1 AND 9's cluster? — keep one
    // cluster: 8 attaches to both 2 and 3 (min rule exercised)
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (5L, 6L),
      (2L, 8L), (3L, 8L)).toDF("id_a", "id_b")
    val ids = (1L to 9L).toDF("vec_id")
    val out = graft.ops.Similarity.dbscan(pairs, ids, minPts = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2), if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toMap
    assert(out(1L) == ((3L, "core", 1L)))
    assert(out(2L)._2 == "core" && out(2L)._3 == 1L)
    assert(out(3L)._2 == "core" && out(3L)._3 == 1L)
    // 8 has degree 2 -> actually CORE too (connects into the cluster)
    assert(out(8L)._2 == "core" && out(8L)._3 == 1L)
    assert(out(4L) == ((1L, "border", 1L)))
    assert(out(5L)._2 == "noise" && out(6L)._2 == "noise")
    assert(out(7L) == ((0L, "noise", -1L)))
    assert(out(9L) == ((0L, "noise", -1L)))
    graft.core.SharedFrames.clear()
  }

  test("k-core: pendants and chains peel, cliques survive with full degree") {
    // 4-clique {1,2,3,4} + pendant 5 hanging off 1 + chain 6-7-8 off 2
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (2L, 6L), (6L, 7L), (7L, 8L)).toDF("id_a", "id_b")
    val (p, n) = persistedPairs(pairs)
    val core2 = graft.ops.Graph.kCore(p, k = 2, iters = 4, knownSize = n)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // chain/pendant peel over successive rounds; clique keeps degree 3
    assert(core2.keySet == Set(1L, 2L, 3L, 4L))
    assert(core2.values.forall(_ == 3L))
    // k=4 empties the graph entirely (clique internal degree is 3)
    assert(graft.ops.Graph.kCore(p, k = 4, iters = 4, knownSize = n).isEmpty)
    graft.core.SharedFrames.clear()
  }

  test("ivf incremental: empty batch reproduces the seeded index; an " +
    "inserted near-dup of a query is immediately its top neighbor") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    // empty batch == full seeded build (same centroids, same search)
    val full = Similarity.ivfSeededTopK(emb, col("vec_id") < 5, k = 5,
        nCentroids = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val incr0 = Similarity.ivfIncrementalTopK(emb, isNew = lit(false),
        isQuery = col("vec_id") < 5, k = 5, nCentroids = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(full == incr0 && full.nonEmpty)
    // plant a batch vector nearly equal to query 0's embedding: the
    // insert must be visible to search with no rebuild, as rank 1
    val q0 = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    q0(0) += 1e-4f
    val planted = emb.select(col("vec_id"), col("embedding"))
      .unionByName(Seq((100000L, q0.toSeq)).toDF("vec_id", "embedding"))
    val got = Similarity.ivfIncrementalTopK(planted,
        isNew = col("vec_id") === 100000L, isQuery = col("vec_id") === 0L,
        k = 3, nCentroids = 8, nProbe = 3)
      .filter(col("rank") === 1).head()
    assert(got.getLong(1) == 100000L, s"planted near-dup should be rank 1: $got")
    graft.core.SharedFrames.clear()
  }

  test("ivf index epoch: save / restart / insert / search equals the " +
    "in-session incremental chain") {
    // the persisted-epoch law the simhash index already has
    // (StreamingSpec): centroids + lists written to parquet by one
    // session must, after a session boundary, absorb a batch and answer
    // searches byte-identically to the in-session incremental chain
    val tmp = java.nio.file.Files.createTempDirectory("graftivfepoch")
      .toFile.getAbsolutePath
    val Cut = 400L // vec_ids >= Cut arrive as the post-restart batch
    val emb = graft.core.Tables.embeddings(spark, sf)
    Similarity.ivfSaveIndex(emb.filter(col("vec_id") < Cut),
      nCentroids = 8, path = s"$tmp/ivf")
    // ---- restart boundary (same discipline as StreamingSpec's) ----
    graft.core.SharedFrames.clear()
    spark.catalog.clearCache()
    val sparkB = spark.newSession()
    val embB = graft.core.Tables.embeddings(sparkB, sf)
    Similarity.ivfInsertBatch(embB.filter(col("vec_id") >= Cut), s"$tmp/ivf")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val resumed = key(Similarity.ivfIndexTopK(sparkB, s"$tmp/ivf",
      isQuery = col("vec_id") < 5, k = 5, nProbe = 3))
    val inSession = key(Similarity.ivfIncrementalTopK(embB,
      isNew = col("vec_id") >= Cut, isQuery = col("vec_id") < 5,
      k = 5, nCentroids = 8, nProbe = 3))
    assert(resumed.nonEmpty && resumed == inSession,
      "resumed epoch answers differently from the in-session chain")
    // the inserted batch is VISIBLE to the resumed search: a query over a
    // batch vector must rank its neighbors (batch ids never indexed
    // in-session before the restart)
    val batchQuery = key(Similarity.ivfIndexTopK(sparkB, s"$tmp/ivf",
      isQuery = col("vec_id") === 450L, k = 3, nProbe = 3))
    assert(batchQuery.nonEmpty, "post-restart batch invisible to search")
    graft.core.SharedFrames.clear()
  }

  test("ivf+pq index epoch: save/load equals the in-session composed search; " +
    "insert after restart leaves the quantizers frozen") {
    val tmp = java.nio.file.Files.createTempDirectory("graftivfpq")
      .toFile.getAbsolutePath
    val emb = graft.core.Tables.embeddings(spark, sf)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    // 1) an epoch of the FULL corpus answers EXACTLY like the in-session
    // composed search: same seeded quantizers, same ADC expression, same
    // tiebreak — so save -> load -> search loses nothing
    Similarity.ivfPqSaveIndex(emb, nCentroids = 8, m = 4, k = 16,
      path = s"$tmp/full")
    val inSession = key(Similarity.ivfPqTopK(emb, col("vec_id") < 5,
      topK = 5, nCentroids = 8, nProbe = 3, m = 4, k = 16))
    val fromEpoch = key(Similarity.ivfPqIndexTopK(
      emb.filter(col("vec_id") < 5), s"$tmp/full", topK = 5, nProbe = 3))
    assert(inSession.nonEmpty && fromEpoch == inSession,
      "epoch search diverged from the in-session composed search")
    // 2) epoch on a PREFIX, then a restart boundary, then an insert:
    // quantizers must not move and the batch must become searchable
    val Cut = 400L
    Similarity.ivfPqSaveIndex(emb.filter(col("vec_id") < Cut),
      nCentroids = 8, m = 4, k = 16, path = s"$tmp/epoch")
    // pre-insert: no batch id can appear as a neighbor
    val pre = key(Similarity.ivfPqIndexTopK(emb.filter(col("vec_id") < 5),
      s"$tmp/epoch", topK = 5, nProbe = 3))
    assert(pre.nonEmpty && pre.forall(_._2 < Cut))
    val cbBefore = spark.read.parquet(s"$tmp/epoch/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSet
    // ---- restart boundary ----
    graft.core.SharedFrames.clear()
    spark.catalog.clearCache()
    val sparkB = spark.newSession()
    val embB = graft.core.Tables.embeddings(sparkB, sf)
    Similarity.ivfPqInsertBatch(embB.filter(col("vec_id") >= Cut), s"$tmp/epoch")
    // the insert encodes against the SAVED quantizers; both stay frozen
    val cbAfter = sparkB.read.parquet(s"$tmp/epoch/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSet
    assert(cbAfter == cbBefore, "codebooks changed under insert")
    // every corpus vector is now coded exactly once
    assert(sparkB.read.parquet(s"$tmp/epoch/codes").count() == embB.count())
    // the batch is VISIBLE: a batch vector queried against the resumed
    // epoch ranks neighbors
    val batchQuery = key(Similarity.ivfPqIndexTopK(
      embB.filter(col("vec_id") === 450L), s"$tmp/epoch", topK = 3, nProbe = 3))
    assert(batchQuery.nonEmpty, "post-restart batch invisible to pq search")
    graft.core.SharedFrames.clear()
  }

  test("duplicated spans are maximal: disjoint, >= L tokens, gaps > L") {
    val L = 8
    val spans = graft.ops.Dedup
      .duplicatedSpans(Tables0.documents(spark, sf), minLen = L)
      .collect()
      .map(r => (r.getLong(r.fieldIndex("doc_id")),
        r.getLong(r.fieldIndex("tok_from")), r.getLong(r.fieldIndex("tok_to"))))
      .groupBy(_._1).values
    assert(spans.nonEmpty)
    spans.foreach { ss =>
      val sorted = ss.sortBy(_._2)
      sorted.foreach { case (_, from, to) =>
        assert(to - from + 1 >= L, s"span shorter than the $L-token seed")
      }
      // maximality: consecutive spans must be disjoint with a gap —
      // from2 > to1 + 1 is algebraically the break rule (seed gap > L),
      // so touching or overlapping spans mean the merge wasn't exhaustive
      sorted.sliding(2).foreach {
        case Array((_, _, to1), (_, from2, _)) =>
          assert(from2 > to1 + 1, "overlapping/adjacent spans not merged")
        case _ =>
      }
    }
  }

  test("lsh planes are deterministic") {
    val p1 = Similarity.planes(4, 8).map(_.toSeq).toSeq
    val p2 = Similarity.planes(4, 8).map(_.toSeq).toSeq
    assert(p1 == p2)
    assert(p1.flatten.forall(v => v == 1.0 || v == -1.0))
  }

  test("cluster purity: clique bound, threshold floor, exact edge accounting") {
    val rows = SparkEntry.queries("q_cluster_purity")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, e) = (r.getAs[Long]("n_members"), r.getAs[Long]("n_edges"))
      assert(n >= 2, "CC clusters contain only paired docs")
      assert(e >= n - 1 && e <= n * (n - 1) / 2,
        s"edge count $e outside the spanning-to-clique envelope for n=$n")
      val d = r.getAs[Long]("density_pct")
      assert(d >= 0 && d <= 100, s"density_pct $d out of range")
      // every audited edge is a VERIFIED pair, so the weakest similarity
      // in any cluster still clears the join threshold
      assert(r.getAs[Double]("min_jaccard") >= 0.8,
        "min_jaccard below the verification threshold")
    }
    // exact accounting: cluster-wise edges sum to the pair frame
    val nPairs = SparkEntry.queries("q_dedup_jaccard")(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_edges")).sum == nPairs,
      "per-cluster edge counts must sum to the verified pair count")
  }

  test("dedup funnel: survivors monotone, stages consistent with the standalone queries") {
    val rows = SparkEntry.queries("q_dedup_funnel")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet == Set("0_total", "1_exact", "2_jaccard_cc", "3_simhash"))
    val surv = Seq("0_total", "1_exact", "2_jaccard_cc", "3_simhash")
      .map(rows(_)._2)
    assert(surv == surv.sorted.reverse && surv.last >= 1,
      s"survivors must be non-increasing down the stack: $surv")
    rows.foreach { case (st, (pass, s2)) =>
      assert(s2 <= pass, s"stage $st: survivors exceed its own pass count")
    }
    // stage-1 pass equals the standalone exact-dedup canonical count
    val nExact = SparkEntry.queries("q_dedup_exact")(spark, sf)
      .filter(org.apache.spark.sql.functions.col("is_canonical")).count()
    assert(rows("1_exact")._1 == nExact,
      "funnel exact stage diverged from q_dedup_exact")
    graft.core.SharedFrames.clear()
  }

  private object Tables0 {
    def documents(s: org.apache.spark.sql.SparkSession, dir: String) =
      graft.core.Tables.documents(s, dir)
  }
}
