package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Adversarial-skew fixtures. The driver-generated TPC-H-ish testdata is
  * uniform, so the skew defenses (groupBy-not-window exact dedup,
  * [[graft.ops.Skew.saltedJoin]]/[[graft.ops.Skew.saltedAgg]], AQE skew
  * splitting) were law-tested for EQUALITY but never exercised under real
  * skew. This suite builds a deterministic skewed corpus — one text
  * duplicated n/3 times, one join key carrying 30% of all rows (the
  * Zipf-head profile of a web crawl) — then:
  *  - DEMONSTRATES the naive shapes straggle on it (the whole hot group
  *    lands in ONE shuffle partition, measured directly);
  *  - asserts the shipped shapes spread the load (plan evidence +
  *    per-partition row bounds);
  *  - pins law-equality of the defended shape to the naive formulation.
  */
class SkewSpec extends SparkSuite {
  import graft.ops.{Dedup, Skew}

  private val N = 30000
  private val MegaCount = N / 3        // doc_id % 3 == 0 -> same text
  private val HotCount = 9000          // 30% of rows on one join key
  private val Parts = 8                // shuffle width for partition probes

  /** One text duplicated n/3 times (ids 0,3,6,...), the rest unique. */
  private lazy val skewDir: String = {
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft-skewspec-${spark.sparkContext.applicationId}").getAbsolutePath
    val docs = spark.range(N).toDF("doc_id")
      .withColumn("text",
        when(col("doc_id") % 3 === 0,
          lit("the quick brown boilerplate footer page"))
        .otherwise(concat(lit("unique document text number "), col("doc_id"),
          lit(" with variety token"), col("doc_id") % 7)))
      .withColumn("lang", lit("en"))
      .withColumn("source",
        when(col("doc_id") < HotCount, lit("hot"))
        .otherwise(concat(lit("src"), col("doc_id") % 5000)))
      .withColumn("n_chars", length(col("text")))
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def maxPartitionRows(df: DataFrame): Int =
    df.rdd.mapPartitions(it => Iterator(it.size)).collect().max

  test("exact dedup survives a text duplicated n/3 times; the window shape demonstrably straggles") {
    val q = SparkEntry.queries("q_dedup_exact")(spark, skewDir)
    val plan = q.queryExecution.explainString(FormattedMode)
    // the shipped shape: no WindowExec anywhere, map-side combined min
    assert(!plan.contains("Window"),
      s"exact dedup regressed to an fp window on the skew fixture:\n${plan.take(1200)}")
    assert(plan.contains("partial_min") || plan.contains("partial min"),
      s"map-side canonical-id combine missing:\n${plan.take(1200)}")

    // correctness on the mega group: n/3 members, exactly one canonical,
    // and it is the smallest member (doc_id 0)
    val rows = q.filter(col("n_same") === MegaCount).collect()
    assert(rows.length == MegaCount, s"mega group size ${rows.length}")
    val canon = rows.filter(_.getAs[Boolean]("is_canonical"))
    assert(canon.length == 1 && canon.head.getAs[Long]("doc_id") == 0L)
    // and the total: every other text is its own singleton group
    assert(q.filter(col("is_canonical")).count() == (N - MegaCount + 1).toLong)

    // demonstrate the hazard the shape avoids: ANY fp-partitioned stage
    // (what Window.partitionBy(fp) plans) must colocate the whole mega
    // group in ONE task — AQE cannot split a window partition
    val fps = core.Tables.documents(spark, skewDir)
      .select(md5(Dedup.normText(col("text"))).as("fp"))
    val naiveMax = maxPartitionRows(fps.repartition(Parts, col("fp")))
    assert(naiveMax >= MegaCount,
      s"fixture no longer skewed: max fp-partition $naiveMax < $MegaCount")
    // while the aggregation's reduce side sees at most (#map partitions)
    // partial rows per fp — measured: one combined row per (map partition,
    // distinct fp), so the hot group arrives collapsed
    val mapParts = fps.rdd.getNumPartitions
    val partials = fps.groupBy(spark_partition_id().as("mp"), col("fp"))
      .agg(count(lit(1)).as("c"))
    val hotPartialRows = partials
      .filter(col("c") > 1).count() // only the mega fp repeats within a map partition
    assert(hotPartialRows <= mapParts.toLong,
      s"map-side combine would emit $hotPartialRows rows for the hot fp (maps=$mapParts)")
  }

  test("df-pruning erases the mega-duplicated text's shingles before any self-join") {
    // the near-dup family's skew defense is UPSTREAM of the join: a
    // shingle occurring in n/3 docs (df >> 20) is dropped before the
    // pair-generating self-join, so the Zipf head never reaches it.
    // On this fixture every cross-doc shingle is template boilerplate
    // (df in the thousands), so the verified pair set is exactly empty.
    val docs = core.Tables.documents(spark, skewDir)
    val sh = Dedup.shingles(docs, 3, maxShingleFreq = Some(20))
    val megaShingles = sh.join(
      docs.filter(col("doc_id") % 3 === 0).select("doc_id"), Seq("doc_id"))
      .count()
    assert(megaShingles == 0L,
      s"$megaShingles mega-text shingles survived the df prune")
    assert(Dedup.jaccardPairs(sh, 0.8).count() == 0L,
      "df-pruned pair set should be empty on the all-boilerplate fixture")
    graft.core.SharedFrames.clear()
  }

  test("saltedJoin spreads a 30%-mass hot key and stays law-equal to the plain join") {
    val big = core.Tables.documents(spark, skewDir)
      .select(col("source").as("key"), col("doc_id"))
    val small = big.select("key").distinct()
      .withColumn("attr", length(col("key")))
    val factor = 8

    // law-equality: every (big, small) match meets at exactly one salt
    val plain = big.join(small, Seq("key")).select("key", "doc_id", "attr")
    val salted = Skew.saltedJoin(big, small, Seq("key"), factor)
      .select("key", "doc_id", "attr")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)

    // load-spread evidence: keyed exchange puts all 9000 hot rows in one
    // partition; the (key, salt) exchange bounds every partition well below
    val naiveMax = maxPartitionRows(big.repartition(Parts, col("key")))
    assert(naiveMax >= HotCount,
      s"fixture no longer skewed: max key-partition $naiveMax < $HotCount")
    val saltedKeys = big.withColumn("__salt",
      pmod(hash(monotonically_increasing_id()), lit(factor)))
    val saltedMax = maxPartitionRows(
      saltedKeys.repartition(Parts * factor, col("key"), col("__salt")))
    assert(saltedMax <= HotCount / factor + N / Parts,
      s"salting failed to spread the hot key: max partition $saltedMax")
  }

  test("saltedAgg on the hot key is exactly the unsalted aggregate") {
    val df = core.Tables.documents(spark, skewDir)
      .select(col("source").as("k"), col("n_chars").cast("decimal(18,2)").as("v"))
    val salted = Skew.saltedAgg(df, col("k"), col("v"), 16)
    val plain = df.groupBy(col("k").as("key"))
      .agg(sum(col("v")).as("total"), count(lit(1)).as("n"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("AQE skew-join split fires on the hot key (skew=true in the executed plan)") {
    // shrink the AQE thresholds so the 9000-row hot partition qualifies at
    // test scale; force SMJ (broadcast would hide the shuffle entirely)
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.shuffle.partitions"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // 32 reducers: non-hot keys spread thin (~650 rows each) so the hot
      // partition (~9650 rows) clears both the byte threshold and the
      // median factor; at 4 reducers the skew is marginal
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      // shuffle sizes are lz4-compressed: repeated text collapses to
      // nothing, so carry an incompressible per-row payload (hex digests)
      // or no partition ever clears the byte threshold
      val big = core.Tables.documents(spark, skewDir)
        .select(col("source").as("key"),
          concat(md5(col("doc_id").cast("string")),
            md5(concat(col("doc_id"), lit("x"))),
            md5(concat(col("doc_id"), lit("y")))).as("payload"))
      // the probe side must reach the SMJ as a PLAIN shuffle
      // (Sort <- ShuffleStage): OptimizeSkewedJoin pattern-matches exactly
      // that, so any operator between them hides the skew — see below
      val right = spark.range(5001).select(
        when(col("id") === 5000, lit("hot"))
          .otherwise(concat(lit("src"), col("id"))).as("key"),
        col("id").as("attr"))
      val joined = big.join(right, Seq("key"))
      // execute THIS dataframe (count() would plan a separate execution and
      // leave joined's adaptive plan unfinalized)
      assert(joined.collect().length == N)
      val executed = joined.queryExecution.executedPlan.toString
      assert(executed.contains("skew=true"),
        s"AQE did not split the hot partition:\n${executed.take(1500)}")

      // the blind spot that justifies Skew.saltedJoin: put an aggregation
      // between the shuffle and the join on the probe side and the SAME
      // skewed build side no longer gets split (the rule's
      // SMJ(Sort(Shuffle), Sort(Shuffle)) pattern fails to match)
      val rightAgg = core.Tables.documents(spark, skewDir)
        .select(col("source").as("key"), col("n_chars"))
        .groupBy("key").agg(sum("n_chars").as("total"))
      val blind = big.join(rightAgg, Seq("key"))
      assert(blind.collect().length == N)
      val blindPlan = blind.queryExecution.executedPlan.toString
      assert(!blindPlan.contains("skew=true"),
        "AQE now splits skew behind an aggregate — saltedJoin's scaladoc " +
          s"and this guard are stale:\n${blindPlan.take(1200)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
