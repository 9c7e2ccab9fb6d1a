package perfbench

import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TopK
import graft.ops.{Merge, Similarity}
import graft.plans.SummaryCatalog

/** One master row as the client-side model holds it. */
final case class MRow(id: Long, name: String, source: String, state: String,
                      score: Option[Double], category: String,
                      acres: Option[Double], conf: Option[Int],
                      emb: Option[Vector[Float]])

/** A write as logged for the end-of-run replay. */
sealed trait Write
final case class AcreageWrite(batch: Seq[(Long, Double, Int)]) extends Write
final case class FilingWrite(row: MRow) extends Write

/** The independent model of the served state: plain Scala over the rows
  * collected once at set-up, advanced by the same write log the engine
  * receives. Every read is checked against it. */
final class Model(initial: Seq[MRow], val history: Map[String, Seq[(Int, Option[Double], String)]]) {
  val rows: mutable.LinkedHashMap[Long, MRow] =
    mutable.LinkedHashMap(initial.map(r => r.id -> r): _*)

  def apply(w: Write): Unit = w match {
    case AcreageWrite(batch) =>
      Model.changed(rows, batch).foreach { case (id, acres, conf) =>
        rows(id) = rows(id).copy(acres = Some(acres), conf = Some(conf))
      }
    case FilingWrite(r) => rows(r.id) = r
  }

  /** (state, category) -> (rows, exact score sum at 4 dp). */
  def rollup: Map[(String, String), (Long, BigDecimal)] =
    rows.values.groupBy(r => (r.state, r.category)).map { case (k, rs) =>
      k -> (rs.size.toLong, rs.flatMap(_.score).map(Model.dec4).sum)
    }
}

object Model {
  /** Spark's CAST(double AS DECIMAL(18,4)): shortest decimal form, HALF_UP. */
  def dec4(d: Double): BigDecimal =
    BigDecimal.decimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)

  /** The library's risk bins (Scoring.categorize), restated. */
  def category(score: Option[Double]): String = score match {
    case None => "Unknown"
    case Some(s) if s < 20 => "Healthy"
    case Some(s) if s < 40 => "Watch"
    case Some(s) if s < 60 => "Elevated"
    case Some(s) if s < 80 => "High"
    case _ => "Severe"
  }

  /** Update-if-better: a surveyed acreage replaces the held one when none
    * is held or its confidence is strictly higher. */
  def changed(rows: collection.Map[Long, MRow],
              batch: Seq[(Long, Double, Int)]): Seq[(Long, Double, Int)] =
    batch.filter { case (id, _, conf) =>
      rows.get(id).exists(r => r.acres.isEmpty || r.conf.forall(conf > _))
    }

  /** Spark's round(x, 6) on a double. */
  def round6(d: Double): Double =
    BigDecimal.decimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}

/** A dashboard request: the engine query, and the same answer computed
  * over the model. Answers compare as plain Scala values. */
sealed trait Request {
  def kind: String
  def query(s: Served): DataFrame
  def answer(rows: Array[Row]): Any
  def expected(m: Model): Any
}

final case class FilterCount(state: String, minScore: Double, source: String,
                             minAcres: Option[Double]) extends Request {
  val kind = "filter_count"
  def query(s: Served): DataFrame = {
    val base = s.master.where(col("state") === state &&
      col("distress_score") >= minScore && col("data_source") === source)
    minAcres.fold(base)(a => base.where(col("verified_acres") >= a))
      .agg(count(lit(1)))
  }
  def answer(rows: Array[Row]): Any = rows.head.getLong(0)
  def expected(m: Model): Any = m.rows.values.count(r =>
    r.state == state && r.score.exists(_ >= minScore) && r.source == source &&
      minAcres.forall(a => r.acres.exists(_ >= a))).toLong
}

final case class GroupCount(state: String) extends Request {
  val kind = "group_count"
  /** Over the parquet master itself, so the registered rollup can answer. */
  def query(s: Served): DataFrame =
    s.spark.read.parquet(s.dir).where(col("state") === state)
      .groupBy("risk_category")
      .agg(count(lit(1)).as("n"),
        sum(col("distress_score").cast("decimal(18,4)")).as("s"))
  def answer(rows: Array[Row]): Any = rows.map { r =>
    (r.getString(0), r.getLong(1),
      Option(r.getDecimal(2)).map(d => BigDecimal(d).setScale(4)).getOrElse(BigDecimal(0).setScale(4)))
  }.toSet
  def expected(m: Model): Any = m.rollup.collect {
    case ((st, cat), (n, sum)) if st == state => (cat, n, sum.setScale(4))
  }.toSet
}

final case class Search(term: String) extends Request {
  val kind = "search"
  def query(s: Served): DataFrame =
    s.master.where(lower(col("institution_name")).contains(term))
      .orderBy(col("distress_score").desc_nulls_last, col("master_id"))
      .limit(8)
      .select("master_id", "institution_name", "distress_score", "verified_acres")
  def answer(rows: Array[Row]): Any = rows.map(r =>
    (r.getLong(0), r.getString(1), Search.opt(r, 2), Search.opt(r, 3))).toSeq
  def expected(m: Model): Any = m.rows.values
    .filter(_.name.toLowerCase.contains(term))
    .toSeq.sortBy(r => (r.score.isEmpty, -r.score.getOrElse(0d), r.id))
    .take(8).map(r => (r.id, r.name, r.score, r.acres))
}

object Search {
  def opt(r: Row, i: Int): Option[Double] = if (r.isNullAt(i)) None else Some(r.getDouble(i))
}

final case class TopKRequest(source: String) extends Request {
  val kind = "topk"
  def query(s: Served): DataFrame =
    s.master.where(col("data_source") === source && col("distress_score").isNotNull)
      .groupBy("state")
      .agg(TopK.topK(col("distress_score"), col("master_id"), Served.TopK).as("top"))
  def answer(rows: Array[Row]): Any = rows.map { r =>
    r.getString(0) -> r.getSeq[Row](1).map(e => (e.getDouble(0), e.getLong(1)))
  }.toMap
  def expected(m: Model): Any = m.rows.values
    .filter(r => r.source == source && r.score.isDefined)
    .groupBy(_.state).map { case (st, rs) =>
      st -> rs.toSeq.map(r => (r.score.get, r.id))
        .sortBy { case (v, id) => (-v, id) }.take(Served.TopK)
    }
}

final case class History(key: String) extends Request {
  val kind = "history"
  def query(s: Served): DataFrame =
    s.panel.where(col("entity_key") === key).orderBy("year")
      .select("year", "final_score", "risk_category")
  def answer(rows: Array[Row]): Any = rows.map(r =>
    (r.getInt(0), Search.opt(r, 1), r.getString(2))).toSeq
  def expected(m: Model): Any = m.history.getOrElse(key, Nil)
}

final case class Similar(id: Long) extends Request {
  val kind = "similar"
  def query(s: Served): DataFrame =
    Similarity.cosineTopK(
      s.master.where(col("emb").isNotNull)
        .select(col("master_id").as("vec_id"), col("emb").as("embedding")),
      col("vec_id") === id, Served.TopK)
      .orderBy("rank").select("neighbor_id", "cosine", "rank")
  def answer(rows: Array[Row]): Any = rows.map(r =>
    (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
  def expected(m: Model): Any = {
    def dot(a: Vector[Double], b: Vector[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val vs = m.rows.values.flatMap(r => r.emb.map(e => r.id -> e.map(_.toDouble))).toSeq
    val q = vs.find(_._1 == id).get._2
    val qn = math.sqrt(dot(q, q))
    vs.filter(_._1 != id)
      .map { case (vid, v) => (vid, Model.round6(dot(q, v) / (qn * math.sqrt(dot(v, v))))) }
      .sortBy { case (vid, c) => (-c, vid) }.take(Served.TopK)
      .zipWithIndex.map { case ((vid, c), i) => (vid, c, i + 1) }
  }
}

/** The served state: the parquet master (base of the registered rollup),
  * the persisted master and panel the reads run against, and the rollup.
  * One writer at a time builds the next master / rollup beside the served
  * ones while reads go on; only publishing them (parquet append, rollup
  * registration, swap) holds the write lock. */
final class Served(val spark: SparkSession, val dir: String, base: DataFrame,
                   val panel: DataFrame, rollup0: DataFrame, tracer: Tracer) {
  @volatile var master: DataFrame = base
  @volatile var rollup: DataFrame = rollup0
  val lock = new ReentrantReadWriteLock(true)
  /** Serializes writers; the state below is touched by the writer only. */
  val writer = new Object
  private val acreage = mutable.LinkedHashMap.empty[Long, (Double, Int)]
  private val filings = mutable.ArrayBuffer.empty[Row]

  def register(): Unit =
    SummaryCatalog.register(spark, dir, dims = Set("state", "risk_category"),
      measures = Map(("distress_score", "decimal(18,4)") -> "sum_score"),
      countCol = "cnt", summary = rollup, insertOnly = false)

  /** The next master: the base plus every write so far, persisted. The
    * plan stays the same depth however many writes came before. */
  def nextMaster(): DataFrame = tracer.span("core.cache_rebuild") {
    val withFilings =
      if (filings.isEmpty) base
      else base.unionByName(spark.createDataFrame(
        java.util.Arrays.asList(filings.toSeq: _*), base.schema))
    val acre = spark.createDataFrame(
      java.util.Arrays.asList(acreage.toSeq.map { case (id, (a, c)) => Row(id, a, c) }: _*),
      StructType(Seq(StructField("master_id", LongType), StructField("verified_acres", DoubleType),
        StructField("acreage_conf", IntegerType))))
    val next = Merge.integrate(withFilings, acre, "master_id",
      Seq("verified_acres", "acreage_conf")).select(base.columns.map(col): _*).persist()
    next.count()
    next
  }

  /** Acreage update-if-better against the served master; the changelog is
    * kept for the next master and returned. */
  def updateAcreage(batch: Seq[(Long, Double, Int)]): Seq[(Long, Double, Int)] = {
    val upd = spark.createDataFrame(
        java.util.Arrays.asList(batch.map { case (id, a, c) => Row(id, a, c) }: _*),
        StructType(Seq(StructField("master_id", LongType), StructField("a", DoubleType),
          StructField("c", IntegerType))))
      .select(col("master_id"),
        struct(col("c").as("acreage_conf"), col("a").as("verified_acres")).as("acreage"))
    val cur = master.select(col("master_id"),
      when(col("verified_acres").isNull, lit(null))
        .otherwise(struct(col("acreage_conf"), col("verified_acres"))).as("acreage"))
    val cdc = tracer.span("ops.merge.update") {
      Merge.updateIfBetter(cur, upd, "master_id", "acreage",
          (n, o) => n.getField("acreage_conf") > o.getField("acreage_conf"))
        .where(col("action") === "updated")
        .select(col("master_id"), col("acreage.verified_acres"), col("acreage.acreage_conf"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    }
    cdc.foreach { case (id, a, c) => acreage(id) = (a, c) }
    cdc
  }

  /** A new 990 filer: kept for the next master; returns its one-row frame
    * and the next rollup, the signed delta folded in by IVM. */
  def addFiling(r: MRow): (DataFrame, DataFrame) = {
    val row = Row(r.id, r.name, r.source, r.state, r.score.map(Double.box).orNull,
      r.category, null, null, null)
    filings += row
    val one = spark.createDataFrame(java.util.Arrays.asList(row), base.schema)
    val delta = one.groupBy("state", "risk_category")
      .agg(count(lit(1)).as("cnt"),
        sum(col("distress_score").cast("decimal(18,4)")).cast("decimal(38,4)").as("sum_score"))
    val next = tracer.span("ops.merge.ivm") {
      // the rollup is a few hundred rows: cut its lineage on every write, or
      // each rollup's plan would nest every earlier one and planning would
      // grow with the number of writes served
      val n = Merge.ivmMerge(rollup, delta, Seq("state", "risk_category"))
        .localCheckpoint().persist()
      n.count()
      n
    }
    (one, next)
  }

  /** Append the filing to the parquet master (call under the write lock). */
  def append(one: DataFrame, parquetSchema: StructType): Unit =
    tracer.span("sinks.append") {
      one.select(parquetSchema.fields.map(f =>
          if (base.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
        .write.mode("append").parquet(dir)
    }

  /** Serve the next frames (call under the write lock); returns the
    * replaced ones, to be released once the lock is dropped. */
  def publish(nextMaster: DataFrame, nextRollup: Option[DataFrame]): Seq[DataFrame] = {
    val old = Seq(master).filterNot(_ eq base) ++ nextRollup.map(_ => rollup)
    master = nextMaster
    nextRollup.foreach { r =>
      rollup = r
      tracer.span("plans.register") { register() }
    }
    old
  }

  def release(): Unit = {
    master.unpersist(blocking = false)
    if (master ne base) base.unpersist(blocking = false)
    rollup.unpersist(blocking = false)
  }
}

object Served {
  val TopK = 5
  val Columns = Seq("master_id", "institution_name", "data_source", "state",
    "distress_score", "risk_category", "verified_acres", "acreage_conf", "emb")

  /** Serve the scored master: persist a snapshot of it (read from
    * `snapshot`, which writes never touch, so Spark does not re-cache it
    * when `dir` is appended to), build the rollup over it and register
    * the rollup as the summary of the parquet master at `dir`. */
  def open(spark: SparkSession, dir: String, snapshot: String, panel: DataFrame,
           tracer: Tracer): Served = {
    val base = spark.read.parquet(snapshot).select(Columns.map(col): _*).persist()
    base.count()
    val rollup = base.groupBy("state", "risk_category")
      .agg(count(lit(1)).as("cnt"),
        sum(col("distress_score").cast("decimal(18,4)")).cast("decimal(38,4)").as("sum_score"))
      .persist()
    rollup.count()
    val s = new Served(spark, dir, base, panel, rollup, tracer)
    s.register()
    s
  }

  def collectModel(s: Served): Model = {
    val rows = s.master.collect().map { r =>
      MRow(r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        Search.opt(r, 4), r.getString(5), Search.opt(r, 6),
        if (r.isNullAt(7)) None else Some(r.getInt(7)),
        if (r.isNullAt(8)) None else Some(r.getSeq[Float](8).toVector))
    }.toSeq
    val hist = s.panel.collect()
      .map(r => r.getString(0) -> (r.getInt(1), Search.opt(r, 2), r.getString(3)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq.sortBy(_._1) }
    new Model(rows, hist)
  }

  /** Whether the optimized plan reads the registered rollup instead of
    * scanning the parquet master. */
  def readsRollup(plan: LogicalPlan): Boolean =
    plan.collectFirst { case r: InMemoryRelation => r }.isDefined &&
      plan.collectFirst { case r: LogicalRelation => r }.isEmpty
}
