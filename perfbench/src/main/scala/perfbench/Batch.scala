package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.SharedFrames
import graft.ingest.Ingest
import graft.model.{Form990, Ipeds}
import graft.ops.{Dedup, Merge}
import graft.sinks.HtmlReport

/** The paper's batch as a client of the library: raw 990 and IPEDS
  * extracts -> both scores -> EIN-by-name matching -> the scored master ->
  * parquet master + HTML map page. Every call into a library layer runs
  * inside a span; with tracing on, each span ends by materializing its
  * output (persist + count), so span time is that layer's work. */
final class Batch(spark: SparkSession, in: Inputs, tracer: Tracer,
                  counts: LayerCounts) {

  private def materialize: Boolean = tracer.enabled

  /** With tracing on, pin the frame and run it, so the enclosing span
    * holds the work; the persisted frame is released by clearDerived. */
  private def done(df: DataFrame): DataFrame =
    if (materialize) { val p = SharedFrames.register(df); p.count(); p } else df

  /** One full pass, writing the master (and its map page) under `outDir`;
    * returns the scored year panel, which the dashboard also serves. */
  def pass(outDir: String): DataFrame = {
    val (std, ez, pf, ipedsRaw, seed) = tracer.span("ingest.read") {
      val std = done(Ingest.readCsv(spark, in.f990Std))
      val ez = done(Ingest.readCsv(spark, in.f990Ez))
      val pf = done(Ingest.readCsv(spark, in.f990Pf))
      val years = in.ipedsYears.map { case (y, p) => y -> done(Ingest.readCsv(spark, p)) }
      val seed = done(Ingest.readCsv(spark, in.masterSeed))
      if (materialize)
        counts.add("ingest.rows_in",
          (Seq(std, ez, pf, seed) ++ years.map(_._2)).map(_.count()).sum.toDouble)
      (std, ez, pf, years, seed)
    }

    val (f990Panel, f990Scores) = tracer.span("model.form990") {
      val panel = done(Form990.buildPanel(Seq(
        Form990.standardizeFiling(std, Form990.standardMap, "STD"),
        Form990.standardizeFiling(ez, Form990.ezMap, "EZ"),
        Form990.standardizeFiling(pf, Form990.pfMap, "PF"))))
      (panel, done(Form990.scoreFilings(std, ez, pf)))
    }

    val ipedsPanel = tracer.span("model.ipeds_panel") {
      done(Ipeds.buildPanel(
        ipedsRaw.map { case (y, raw) => Ipeds.standardizeYear(raw, y) },
        Some(f990Panel)))
    }

    val ipedsScores = tracer.span("core.engine") { done(Ipeds.score(ipedsPanel)) }
    if (materialize)
      counts.add("ops.subsidiary.flagged",
        ipedsScores.where(col("is_subsidiary")).select("unitid").distinct().count().toDouble)

    val master0 = seed.select(
      col("master_id").cast("long").as("master_id"),
      col("institution_name"), col("data_source"), col("unitid"),
      Ingest.normalizeKey(col("ein")).as("ein"), col("state"), col("city"),
      col("latitude").cast("double").as("latitude"),
      col("longitude").cast("double").as("longitude"),
      col("verified_acres").cast("double").as("verified_acres"),
      col("acreage_conf").cast("int").as("acreage_conf"))

    val matches = tracer.span("ops.dedup") { nameMatches(master0) }

    val master = tracer.span("ops.merge.integrate") {
      val ipedsLatest = latest(ipedsScores, "unitid").select(
        col("unitid"), col("final_score").as("ipeds_score"),
        col("risk_category").as("ipeds_category"), col("is_subsidiary"),
        vector(Ipeds.config.domains.map(_.name)).as("ipeds_vec"))
      val f990Latest = latest(f990Scores, "ein").select(
        col("ein"), col("final_score").as("f990_score"),
        col("risk_category").as("f990_category"),
        vector(Form990.config.domains.map(_.name)).as("f990_vec"))
      val m1 = Merge.integrate(master0, ipedsLatest, "unitid",
        Seq("ipeds_score", "ipeds_category", "is_subsidiary", "ipeds_vec"))
      val m2 = Merge.integrate(m1, f990Latest, "ein",
        Seq("f990_score", "f990_category", "f990_vec"))
      val m3 = Merge.integrate(m2, matches, "unitid", Seq("ein_matched"))
      val scored = m3
        .withColumn("distress_score", coalesce(col("ipeds_score"), col("f990_score")))
        .withColumn("risk_category",
          coalesce(col("ipeds_category"), col("f990_category"), lit("Unscored")))
        .withColumn("is_subsidiary", coalesce(col("is_subsidiary"), lit(false)))
        .withColumn("emb",
          when(col("distress_score").isNull, lit(null)).otherwise(concat(
            coalesce(col("ipeds_vec"), array_repeat(lit(1f), Batch.IpedsDims)),
            coalesce(col("f990_vec"), array_repeat(lit(1f), Batch.F990Dims)))))
        .drop("ipeds_vec", "f990_vec")
      val p = SharedFrames.register(scored)
      if (materialize) p.count()
      p
    }

    val masterPath = s"$outDir/master.parquet"
    tracer.span("sinks.write") {
      master.write.mode("overwrite").parquet(masterPath)
      HtmlReport.write(
        master.select("master_id", "institution_name", "state", "latitude",
          "longitude", "distress_score", "risk_category", "verified_acres"),
        s"$outDir/map.html")
    }

    latestPanel(ipedsScores, f990Scores)
  }

  /** Digest of the master a pass wrote under `outDir`, read back. */
  def digest(outDir: String): Digest =
    Digest.of(spark.read.parquet(s"$outDir/master.parquet"), in.namePairs)

  /** Latest-year row per key. */
  private def latest(df: DataFrame, key: String): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(key).orderBy(col("year").desc)))
      .where(col("__rn") === 1).drop("__rn")

  /** Domain scores shifted by one (0..101), as a float vector: the
    * indicator vector the dashboard's similarity search ranks on. */
  private def vector(domains: Seq[String]): Column =
    array(domains.map(d =>
      (coalesce(col(s"domain_$d"), lit(0d)) + 1d).cast("float")): _*)

  /** The year rows of every scored entity, keyed "U<unitid>" / "E<ein>". */
  private def latestPanel(ipeds: DataFrame, f990: DataFrame): DataFrame =
    ipeds.select(concat(lit("U"), col("unitid")).as("entity_key"), col("year"),
        col("final_score"), col("risk_category"))
      .unionByName(f990.select(concat(lit("E"), col("ein")).as("entity_key"),
        col("year"), col("final_score"), col("risk_category")))

  /** IPEDS units without an EIN matched to 990 filers by name: word
    * shingles of the normalized name -> MinHash -> LSH bands -> band
    * candidates -> exact-Jaccard verification; the best verified 990
    * filer per unit wins (ties to the smaller EIN). */
  private def nameMatches(master: DataFrame): DataFrame = {
    val docs = master
      .where((col("data_source") === "IPEDS" &&
          (col("ein").isNull || col("ein") === "")) ||
        col("data_source") === "Hummingbird_990")
      .select(col("master_id").as("doc_id"),
        Dedup.normText(regexp_replace(
          regexp_replace(lower(col("institution_name")), "[^a-z0-9]+", " "),
          "\\b(the|inc|of|and)\\b", " ")).as("text"))
    val sh = tracer.span("ops.dedup.shingles") {
      done(Dedup.shingles(docs, n = 1, maxShingleFreq = Some(Batch.MaxShingleFreq)))
    }
    val banded = tracer.span("ops.dedup.minhash") {
      val sig = Dedup.minhashSignatures(sh, Batch.MinhashK)
      done(Dedup.withBands(sig, Batch.MinhashK, Batch.RowsPerBand))
    }
    val cands = tracer.span("ops.dedup.candidates") {
      done(Dedup.bandCandidates(banded, Batch.MinhashK / Batch.RowsPerBand))
    }
    val verified = tracer.span("ops.dedup.verify") {
      done(Dedup.verifyCandidates(cands, sh, Batch.JaccardThreshold))
    }
    if (materialize) {
      counts.add("ops.dedup.candidates", cands.count().toDouble)
      counts.add("ops.dedup.verified", verified.count().toDouble)
    }
    val side = master.select(col("master_id"), col("data_source"), col("unitid"),
      col("ein"))
    val a = side.select(col("master_id").as("id_a"), col("data_source").as("src_a"),
      col("unitid").as("unit_a"), col("ein").as("ein_a"))
    val b = side.select(col("master_id").as("id_b"), col("data_source").as("src_b"),
      col("unitid").as("unit_b"), col("ein").as("ein_b"))
    val cross = verified.join(a, "id_a").join(b, "id_b")
      .where(col("src_a") =!= col("src_b"))
      .select(
        when(col("src_a") === "IPEDS", col("unit_a")).otherwise(col("unit_b")).as("unitid"),
        when(col("src_a") === "IPEDS", col("ein_b")).otherwise(col("ein_a")).as("ein"),
        col("jaccard"))
    cross.withColumn("__rn", row_number().over(
        Window.partitionBy("unitid").orderBy(col("jaccard").desc, col("ein").asc)))
      .where(col("__rn") === 1)
      .select(col("unitid"), col("ein").as("ein_matched"))
  }
}

object Batch {
  val IpedsDims = 7
  val F990Dims = 5
  val MaxShingleFreq = 20
  val MinhashK = 24
  val RowsPerBand = 2
  val JaccardThreshold = 0.5
}

/** The pass digest: row count, rows per risk category, the exact sum of
  * the scores at 4 dp, flagged subsidiaries, institutions scored, and the
  * recall of the planted name pairs. The same definition is recomputed
  * with DuckDB over the written parquet (see `check.py`). */
final case class Digest(rows: Long, perCategory: Map[String, Long],
                        scoreSum: String, subsidiaries: Long, entities: Long,
                        pairsFound: Long, pairsPlanted: Long) {
  def toJson: String = {
    val cats = perCategory.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"rows":$rows,"per_category":{$cats},"score_sum":"$scoreSum",""" +
      s""""subsidiaries":$subsidiaries,"entities":$entities,""" +
      s""""pairs_found":$pairsFound,"pairs_planted":$pairsPlanted}"""
  }
}

object Digest {
  def of(master: DataFrame, pairs: DataFrame): Digest = {
    val row = master.agg(
      count(lit(1)),
      sum(col("distress_score").cast("decimal(18,4)")).cast("decimal(38,4)").cast("string"),
      count(when(col("is_subsidiary"), 1)),
      count(col("ipeds_score")),
      countDistinct(when(col("f990_score").isNotNull, col("ein")))).head()
    val cats = master.groupBy("risk_category").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val found = pairs.join(
        master.select(col("unitid"), col("ein_matched")), Seq("unitid"))
      .where(col("ein_matched") === col("ein")).count()
    Digest(row.getLong(0), cats, Option(row.getString(1)).getOrElse("0"),
      row.getLong(2), row.getLong(3) + row.getLong(4), found, pairs.count())
  }
}
