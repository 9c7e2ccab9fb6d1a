package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SharedFrames
import graft.ingest.Ingest
import graft.plans.{GraftExtensions, SummaryCatalog}

/** The generated inputs (see gen.py for the layout). */
final class Inputs(spark: SparkSession, dir: String) {
  val f990Std = s"$dir/990/std"
  val f990Ez = s"$dir/990/ez"
  val f990Pf = s"$dir/990/pf"
  val ipedsYears: Seq[(Int, String)] = (2020 to 2024).map(y => y -> s"$dir/ipeds/IPEDS$y.csv")
  val masterSeed = s"$dir/master_seed.csv"

  private def lines(name: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(s"$dir/truth/$name"), StandardCharsets.ISO_8859_1)
      .asScala.toSeq.drop(1).map(_.split(",", -1))

  lazy val namePairs: DataFrame = spark.read.option("header", "true")
    .csv(s"$dir/truth/name_pairs.csv")
    .select(col("unitid"), Ingest.normalizeKey(col("ein")).as("ein"))

  /** (master_id, verified_acres, acreage_conf) survey results. */
  lazy val acreageUpdates: IndexedSeq[(Long, Double, Int)] =
    lines("acreage_updates.csv").map(a => (a(0).toLong, a(1).toDouble, a(2).toInt)).toIndexedSeq

  /** New scored 990 filers (name has no commas by construction). */
  lazy val newFilings: IndexedSeq[MRow] = lines("new_filings.csv").map { a =>
    val score = Some(a(4).toDouble)
    MRow(a(0).toLong, a(1), "Hummingbird_990", a(3), score, Model.category(score),
      None, None, None)
  }.toIndexedSeq
}

/** One end-to-end or per-layer figure with the number of samples behind it. */
final case class Metric(value: Double, unit: String, samples: Long)

final class SteadinessError(msg: String) extends RuntimeException(msg)

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0d
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile, refused when fewer than ten samples lie
    * beyond it (or, for a median, when it rests on a single operation). */
  def percentile(name: String, xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val rank = math.ceil(p * s.size).toInt.max(1)
    if (p > 0.5 && s.size - rank < 10)
      throw new SteadinessError(
        s"$name: ${s.size - rank} samples beyond p${(p * 100).toInt} (need 10)")
    if (s.size < 2)
      throw new SteadinessError(s"$name: ${s.size} samples (need 2)")
    if (p == 0.5) median(s) else s(rank - 1)
  }

  def json(correct: Boolean, attempted: Long, failed: Long,
           metrics: Seq[(String, Metric)]): String = {
    val ms = metrics.map { case (k, m) =>
      val v = if (m.value.isNaN || m.value.isInfinite) 1e12 else m.value
      s""""$k":{"value":$v,"unit":"${m.unit}","samples":${m.samples}}"""
    }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
  }
}

/** Outcome of one measured window. */
final class Tally {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val byKind = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  def record(kind: String, ms: Double, ok: Boolean): Unit = synchronized {
    attempted.incrementAndGet()
    // a failed or wrong operation misses every latency limit
    byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
      (if (ok) ms else Double.PositiveInfinity)
    if (!ok) failed.incrementAndGet()
  }
  def latencies(kind: String): Seq[Double] = synchronized(byKind.getOrElse(kind, Nil).toSeq)
  def kinds: Seq[String] = synchronized(byKind.keys.toSeq)
}

object Main {
  final case class Args(workload: String, seconds: Double, trace: Boolean,
                        input: String, work: String, seed: Long)

  /** Spark's local cores; the dashboard's 2 clients leave half for tasks. */
  val Cores = 4

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("input"), m("work"), m("seed").toLong)
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val args = parse(argv)
    Files.createDirectories(Paths.get(args.work))
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try {
        val run = new Run(spark, args, jvmStart)
        val out = args.workload match {
          case "score_batch" => run.batch()
          case "dashboard_mixed" => run.dashboard()
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        Files.write(Paths.get(s"${args.work}/result.json"),
          out.getBytes(StandardCharsets.UTF_8))
        println(out)
        0
      } catch {
        case e: SteadinessError =>
          System.err.println(s"refused: ${e.getMessage}"); 3
        case e: Throwable =>
          e.printStackTrace(); 1
      } finally {
        SharedFrames.clear()
        spark.stop()
      }
    sys.exit(code)
  }
}

/** The workloads. Each one: set-up (Spark session, the untimed warm-up),
  * then a measured window with tracing off; with `--trace 1` the window is
  * split in an untraced half and a traced half, and the traced half gives
  * the per-layer metrics and the tracing overhead. */
final class Run(spark: SparkSession, args: Main.Args, jvmStart: Long) {
  private val in = new Inputs(spark, args.input)
  private val tracer = new Tracer
  private val counts = new LayerCounts
  private val engine = new EngineCounters
  private val probes = mutable.ArrayBuffer.empty[Double]
  /** Spans of one request (a read, a write or a pass) share its id. */
  private val requests = new AtomicLong
  /** Warm-up operations, checked and counted like measured ones. */
  private val warm = new Tally

  private def now: Double = System.nanoTime() / 1e9

  /** Same cache and heap state at the start of every window. */
  private def resetWindow(): Unit = {
    SharedFrames.clearDerived()
    System.gc()
    probes += HostProbe.run()
  }

  /** Wall time from JVM start to the start of the first measured window:
    * one interval per run (its sample count is 1), set when that window
    * starts. */
  private var setupS = Option.empty[Double]
  private def windowStarted(): Unit =
    if (setupS.isEmpty) setupS = Some((System.currentTimeMillis() - jvmStart) / 1000d)
  private def setupMetric: (String, Metric) = "setup_s" -> Metric(setupS.get, "s", 1)

  /** The end-to-end metrics, the same three on every workload: set-up
    * time, the median latency of the workload's unit operation (a full
    * pass on score_batch, a read on dashboard_mixed; a wrong one counts
    * as infinite), and completed operations of any kind (passes; reads
    * and writes) per second of the measured window. */
  private def e2e(latenciesMs: Seq[Double], tally: Tally,
                  elapsed: Double): Seq[(String, Metric)] = {
    val completed = tally.attempted.get - tally.failed.get
    Seq(
      setupMetric,
      "op_p50_ms" -> Metric(Stats.percentile("op_p50_ms", latenciesMs, 0.5), "ms",
        latenciesMs.size),
      "ops_per_s" -> Metric(completed / elapsed, "1/s", completed))
  }

  private def windows(seconds: Double)(measure: Double => Unit): Unit =
    if (!args.trace) measure(seconds)
    else {
      measure(seconds / 2)
      spark.sparkContext.addSparkListener(engine)
      tracer.enabled = true
      measure(seconds / 2)
      tracer.enabled = false
      Files.createDirectories(Paths.get(args.work))
      tracer.dump(Paths.get(s"${args.work}/spans.jsonl"))
    }

  // ---------------------------------------------------------------- batch

  def batch(): String = {
    val b = new Batch(spark, in, tracer, counts)
    val t0 = now
    b.pass(s"${args.work}/warm")
    val t1 = now
    val reference = b.digest(s"${args.work}/warm")
    System.err.println(f"warm-up pass ${t1 - t0}%.1f s, digest ${now - t1}%.1f s; " +
      s"reference digest ${reference.toJson}")

    final case class Window(passes: Seq[Double], elapsed: Double,
                            tally: Tally, spark0: engine.Snapshot, spark1: engine.Snapshot)
    val results = mutable.ArrayBuffer.empty[Window]
    val passLog = mutable.ArrayBuffer.empty[String]
    var passNo = 0
    windows(args.seconds) { seconds =>
      resetWindow()
      val s0 = engine.snapshot
      val tally = new Tally
      val passes = mutable.ArrayBuffer.empty[(String, Double)]
      windowStarted()
      val start = now
      // a traced run's halves are diagnostics: one pass each will do
      while (now - start < seconds || passes.size < (if (args.trace) 1 else Run.MinPasses)) {
        SharedFrames.clearDerived()
        passNo += 1
        val dir = s"${args.work}/passes/pass_$passNo"
        tracer.setRequest(passNo)
        val t0 = now
        b.pass(dir)
        passes += dir -> (now - t0)
      }
      val elapsed = now - start
      val s1 = engine.snapshot
      probes += HostProbe.run()
      // each pass's output is read back and checked after the window, so
      // the window holds the passes only
      val c0 = now
      for ((dir, dt) <- passes) {
        val d = b.digest(dir)
        System.err.println(f"${dir.split('/').last}: $dt%.2f s")
        tally.record("pass", dt * 1000, d == reference)
        passLog += s"""{"dir":"$dir","traced":${tracer.enabled},"digest":${d.toJson}}"""
      }
      System.err.println(f"digests of ${passes.size} passes ${now - c0}%.1f s")
      results += Window(passes.map(_._2).toSeq, elapsed, tally, s0, s1)
    }
    Files.write(Paths.get(s"${args.work}/passes.jsonl"), passLog.asJava)
    Files.write(Paths.get(s"${args.work}/reference.json"),
      reference.toJson.getBytes(StandardCharsets.UTF_8))

    val plain = results.head
    val attempted = results.map(_.tally.attempted.get).sum + warm.attempted.get
    val failed = results.map(_.tally.failed.get).sum + warm.failed.get
    val metrics =
      if (!args.trace) e2e(plain.tally.latencies("pass"), plain.tally, plain.elapsed)
      else {
        val passS = Stats.median(plain.passes)
        val t = results.last
        val n = t.passes.size.toDouble
        val tracedPass = Stats.median(t.passes)
        def spanS(name: String) = {
          val d = tracer.durations(name)
          Metric(Stats.median(d), "s", d.size.toLong)
        }
        val cands = counts.get("ops.dedup.candidates").getOrElse(0d)
        val verified = counts.get("ops.dedup.verified").getOrElse(0d)
        layerMetrics(
          Seq(
            "ingest.read_s" -> spanS("ingest.read"),
            "ingest.rows_in" -> Metric(counts.get("ingest.rows_in").getOrElse(0d) / n, "count", t.passes.size),
            "model.form990_s" -> spanS("model.form990"),
            "model.ipeds_panel_s" -> spanS("model.ipeds_panel"),
            "ops.subsidiary.flagged" -> Metric(counts.get("ops.subsidiary.flagged").getOrElse(0d) / n, "count", t.passes.size),
            "core.engine_s" -> spanS("core.engine"),
            "ops.dedup.match_s" -> spanS("ops.dedup"),
            "ops.dedup.candidates" -> Metric(cands / n, "count", t.passes.size),
            "ops.dedup.verified_per_candidate" -> Metric(if (cands > 0) verified / cands else 0d, "ratio", cands.toLong),
            "ops.merge.integrate_s" -> spanS("ops.merge.integrate"),
            "sinks.write_s" -> spanS("sinks.write"),
            "trace.overhead_pct" -> Metric(100 * (tracedPass - passS) / passS, "%", t.passes.size)),
          t.spark0, t.spark1, t.passes.size, t.elapsed)
      }
    Stats.json(failed == 0, attempted, failed, metrics)
  }

  // ------------------------------------------------------------ dashboard

  private final class State(val served: Served, val model: Model,
                            val initial: Seq[MRow]) {
    val log = mutable.ArrayBuffer.empty[Write]
    val acreCursor = new AtomicLong
    val filingCursor = new AtomicLong
  }

  def dashboard(): String = {
    val b = new Batch(spark, in, tracer, counts)
    val t0 = now
    val scored = s"${args.work}/scored"
    // the year panel is served from parquet like the master, so requests
    // plan against a scan rather than the whole scoring lineage
    b.pass(scored).write.parquet(s"$scored/panel.parquet")
    val panel = spark.read.parquet(s"$scored/panel.parquet").persist()
    panel.count()
    SharedFrames.clearDerived()
    GraftExtensions.installOptimizations(spark)
    val dir = s"${args.work}/served/master.parquet"
    Run.copyDir(Paths.get(s"$scored/master.parquet"), Paths.get(dir))
    val served = Served.open(spark, dir, s"$scored/master.parquet", panel, tracer)
    val model = Served.collectModel(served)
    val state = new State(served, model, model.rows.values.toSeq)
    val t1 = now
    // untimed warm-up of every operation type, checked like the rest
    val warmRng = new scala.util.Random(args.seed * 7919)
    val warmParams = new Params(model, args.seed)
    for (kind <- Run.ReadKinds) read(state, warmParams.request(kind, warmRng), warm)
    Run.WriteKinds.foreach(k => write(state, k, warm))
    System.err.println(f"served state ${t1 - t0}%.1f s, warm-up ${now - t1}%.1f s")
    if (warm.failed.get > 0)
      System.err.println(s"warm-up: ${warm.failed.get} of ${warm.attempted.get} failed")

    final case class Window(tally: Tally, elapsed: Double, planMs: Seq[Double],
                            groupHits: Long, groupAll: Long,
                            spark0: engine.Snapshot, spark1: engine.Snapshot)
    val results = mutable.ArrayBuffer.empty[Window]
    windows(args.seconds) { seconds =>
      resetWindow()
      val s0 = engine.snapshot
      val tally = new Tally
      // run for `seconds`, and on until the percentiles have their
      // samples; the untraced half of a traced run also holds enough reads
      // for the p90 diagnostic
      val minReads =
        if (!args.trace) Run.MinReads else if (tracer.enabled) 0 else Run.P90Reads
      val d = drive(state, seconds, tally, minReads, results.size + 1)
      probes += HostProbe.run()
      results += Window(tally, d.elapsed, d.planMs, d.groupHits, d.groupAll, s0, engine.snapshot)
    }

    // the final master and rollup against a from-scratch replay of the log
    val finalTally = new Tally
    val replay = new Model(state.initial, state.model.history)
    state.log.foreach(replay.apply)
    val servedRows = Served.collectModel(state.served).rows
    val rollupRows = state.served.rollup.collect().map { r =>
      (r.getString(0), r.getString(1)) ->
        (r.getLong(2), Option(r.getDecimal(3)).map(BigDecimal(_)).getOrElse(BigDecimal(0)).setScale(4))
    }.toMap
    val ok = servedRows == replay.rows &&
      rollupRows == replay.rollup.map { case (k, (n, s)) => k -> (n, s.setScale(4)) }
    if (!ok) System.err.println("final state differs from the replay of the write log")
    finalTally.record("final_state", 0d, ok)
    // the master as scored at set-up, for run.py's check against the
    // generated truth
    Files.write(Paths.get(s"${args.work}/reference.json"),
      b.digest(scored).toJson.getBytes(StandardCharsets.UTF_8))

    val plain = results.head
    val reads = Run.ReadKinds.flatMap(plain.tally.latencies)
    val writeLat = Run.WriteKinds.flatMap(plain.tally.latencies)
    val all = results.toSeq.map(_.tally) :+ finalTally :+ warm
    val attempted = all.map(_.attempted.get).sum
    val failed = all.map(_.failed.get).sum
    val metrics =
      if (!args.trace) e2e(reads, plain.tally, plain.elapsed)
      else {
        val t = results.last
        def p50(kind: String) = {
          val xs = t.tally.latencies(kind)
          Metric(Stats.median(xs), "ms", xs.size)
        }
        def spanMs(name: String) = {
          val d = tracer.durations(name).map(_ * 1000)
          Metric(Stats.median(d), "ms", d.size)
        }
        val tracedReads = Run.ReadKinds.flatMap(t.tally.latencies)
        val p50Plain = Stats.median(reads)
        val cdc = counts.get("ops.merge.cdc_rows").getOrElse(0d)
        val acreWrites = t.tally.latencies("acreage").size
        layerMetrics(
          Run.ReadKinds.map(k => s"req.${k}_ms" -> p50(k)) ++ Seq(
            // over the untraced half, which ran on to P90Reads reads; a
            // half that could not reach them reports 0 with its sample count
            "read_p90_ms" -> Metric(
              if (reads.size >= Run.P90Reads) Stats.percentile("read_p90_ms", reads, 0.9) else 0d,
              "ms", reads.size),
            "write_p50_ms" -> Metric(Stats.median(writeLat), "ms", writeLat.size),
            "plans.plan_ms" -> Metric(Stats.median(t.planMs), "ms", t.planMs.size),
            "plans.summary_hit_frac" -> Metric(
              if (t.groupAll > 0) t.groupHits.toDouble / t.groupAll else 0d, "ratio", t.groupAll),
            "ops.merge.update_ms" -> spanMs("ops.merge.update"),
            "ops.merge.ivm_ms" -> spanMs("ops.merge.ivm"),
            "ops.merge.cdc_rows" -> Metric(if (acreWrites > 0) cdc / acreWrites else 0d, "count", acreWrites),
            "core.cache_rebuild_ms" -> spanMs("core.cache_rebuild"),
            "trace.overhead_pct" -> Metric(
              100 * (Stats.median(tracedReads) - p50Plain) / p50Plain, "%", tracedReads.size)),
          t.spark0, t.spark1, t.tally.attempted.get, t.elapsed)
      }
    state.served.release()
    panel.unpersist()
    Stats.json(failed == 0, attempted, failed, metrics)
  }

  private final case class Driven(elapsed: Double, planMs: Seq[Double], groupHits: Long,
                                  groupAll: Long)

  /** The closed loop: the clients take their requests from one seeded
    * sequence of shuffled blocks of the mix. A new block starts until
    * `seconds` have passed and `minReads` reads (and some writes) are
    * issued, up to four times `seconds` (at least 30 s); the window ends
    * when its last block is done, so it holds the mix exactly. */
  private def drive(state: State, seconds: Double, tally: Tally,
                    minReads: Int, windowNo: Int): Driven = {
    val planMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val hits = new AtomicLong
    val groups = new AtomicLong
    val params = new Params(state.model, args.seed)
    val error = new AtomicReference[Throwable]()
    windowStarted()
    val start = now
    val rng = new scala.util.Random(args.seed * 104729 + windowNo * 31)
    var block = Iterator.empty[String]
    var blocks = 0
    var writeNo = 0L
    def enough: Boolean = blocks * Run.BlockReads >= minReads &&
      (minReads == 0 || blocks * Run.BlockWrites >= Run.MinWrites)
    /** The next request (a write kind or a read), None once the window is done. */
    def next(): Option[Either[String, Request]] = rng.synchronized {
      val t = now - start
      val open = (t < seconds || !enough) && t < math.max(seconds * 4, 30)
      if (!block.hasNext && !open) None
      else {
        if (!block.hasNext) { block = rng.shuffle(Run.Deck).iterator; blocks += 1 }
        Some(block.next() match {
          // every third write is an acreage update and the others new
          // filings: an exact 1:2 mix
          case "write" =>
            writeNo += 1
            Left(if (writeNo % 3 == 1) "acreage" else "filing")
          case kind => Right(params.request(kind, rng))
        })
      }
    }
    val threads = (0 until Run.Clients).map { c =>
      new Thread(() => {
        try {
          Iterator.continually(next()).takeWhile(_.isDefined).flatten.foreach {
            case Left(kind) => write(state, kind, tally)
            case Right(req) => read(state, req, tally, Some((planMs, hits, groups)))
          }
        } catch { case e: Throwable => error.set(e) }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val elapsed = now - start
    if (error.get != null) throw error.get
    System.err.println(f"window $windowNo: ${tally.attempted.get} ops in $elapsed%.1f s; " +
      tally.kinds.sorted.map { k =>
        val l = tally.latencies(k)
        f"$k ${Stats.median(l)}%.0f/${l.sum / l.size}%.0f/${l.max}%.0f ms x${l.size}"
      }.mkString(", "))
    Driven(elapsed, planMs.asScala.toSeq.map(_.doubleValue), hits.get, groups.get)
  }

  /** One read: time from send (before the read lock) to rows collected;
    * the answer is then checked against the model under the same lock. */
  private def read(st: State, req: Request, tally: Tally,
                   trace: Option[(java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double],
                     AtomicLong, AtomicLong)] = None): Unit = {
    val lock = st.served.lock.readLock()
    tracer.setRequest(requests.incrementAndGet())
    val t0 = System.nanoTime()
    lock.lock()
    try {
      val (ok, ms) =
        try {
          val q = tracer.span(s"req.${req.kind}") {
            val q = req.query(st.served)
            if (tracer.enabled) trace.foreach { case (plans, hits, groups) =>
              val p0 = System.nanoTime()
              tracer.span("plans.plan") { q.queryExecution.executedPlan }
              plans.add((System.nanoTime() - p0) / 1e6)
              if (req.kind == "group_count") {
                groups.incrementAndGet()
                if (Served.readsRollup(q.queryExecution.optimizedPlan)) hits.incrementAndGet()
              }
            }
            q
          }
          val rows = tracer.span("collect") { q.collect() }
          val ms = (System.nanoTime() - t0) / 1e6
          val (got, want) = (req.answer(rows), req.expected(st.model))
          if (got != want)
            System.err.println(s"wrong answer to $req:\n  got  ${Run.show(got)}\n  want ${Run.show(want)}")
          (got == want, ms)
        } catch {
          case e: Exception =>
            System.err.println(s"${req.kind} failed: $e")
            (false, 0d)
        }
      tally.record(req.kind, ms, ok)
    } finally lock.unlock()
  }

  /** One write: time from send until the served state (and so the next
    * read) reflects it. The new frames are built while reads go on; only
    * publishing them excludes reads. */
  private def write(st: State, kind: String, tally: Tally): Unit = {
    tracer.setRequest(requests.incrementAndGet())
    val t0 = System.nanoTime()
    st.served.writer.synchronized {
      val exclusive = st.served.lock.writeLock()
      val ok =
        try {
          val (w, check, publish) = kind match {
            case "acreage" =>
              val batch = nextAcreage(st)
              val expected = Model.changed(st.model.rows, batch)
              val cdc = st.served.updateAcreage(batch)
              if (tracer.enabled) counts.add("ops.merge.cdc_rows", cdc.size)
              val next = st.served.nextMaster()
              (AcreageWrite(batch), cdc.toSet == expected.toSet,
                () => st.served.publish(next, None))
            case _ =>
              val i = st.filingCursor.getAndIncrement()
              val row = in.newFilings((i % in.newFilings.size).toInt)
              // a filing id is used once; wrap-around reuses it with a fresh id
              val fresh = row.copy(id = row.id + (i / in.newFilings.size) * 10000000L)
              val (one, rollup) = st.served.addFiling(fresh)
              val next = st.served.nextMaster()
              (FilingWrite(fresh), true, () => {
                st.served.append(one, Run.parquetSchema(spark, st.served.dir))
                st.served.publish(next, Some(rollup))
              })
          }
          exclusive.lock()
          val old =
            try {
              val old = publish()
              st.model.apply(w)
              st.log += w
              old
            } finally exclusive.unlock()
          old.foreach(_.unpersist(blocking = false))
          check
        } catch {
          case e: Exception =>
            System.err.println(s"$kind write failed: $e")
            false
        }
      tally.record(kind, (System.nanoTime() - t0) / 1e6, ok)
    }
  }

  /** The next acreage batch, one survey result per master row. */
  private def nextAcreage(st: State): Seq[(Long, Double, Int)] = {
    val all = in.acreageUpdates
    val start = st.acreCursor.getAndAdd(Run.AcreageBatch)
    (0 until Run.AcreageBatch).map(k => all(((start + k) % all.size).toInt))
      .groupBy(_._1).map(_._2.head).toSeq.sortBy(_._1)
  }

  /** Spark listener figures over the traced window, plus memory and the
    * host probe; every per-layer metric is present in every traced run
    * (zero with zero samples where the workload does not exercise it). */
  private def layerMetrics(own: Seq[(String, Metric)], s0: engine.Snapshot,
                           s1: engine.Snapshot, ops: Long,
                           elapsed: Double): Seq[(String, Metric)] = {
    Thread.sleep(200) // let the listener bus drain
    val s2 = engine.snapshot
    val n = ops.max(1).toDouble
    val waits = engine.waitsSince(s0).take(s2.waitsSeen - s0.waitsSeen)
    System.gc()
    val rt = Runtime.getRuntime
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
    val generic = Seq(
      "spark.jobs" -> Metric((s1.jobs - s0.jobs) / n, "count", ops),
      "spark.tasks" -> Metric((s1.tasks - s0.tasks) / n, "count", ops),
      "spark.shuffle_mb" -> Metric((s1.shuffleBytes - s0.shuffleBytes) / 1e6 / n, "MB", ops),
      "spark.spill_mb" -> Metric((s1.spillBytes - s0.spillBytes) / 1e6 / n, "MB", ops),
      "spark.gc_ms" -> Metric((s1.gcMs - s0.gcMs) / n, "ms", ops),
      "spark.cpu_util" -> Metric((s1.cpuNs - s0.cpuNs) / 1e9 / (elapsed * Main.Cores), "ratio", ops),
      "spark.sched_wait_ms" -> Metric(Stats.median(waits), "ms", waits.size),
      "storage.cached_mb" -> Metric(cachedMb, "MB", 1),
      "jvm.heap_after_gc_mb" -> Metric((rt.totalMemory - rt.freeMemory) / 1e6, "MB", 1),
      "host.probe_ms" -> Metric(Stats.median(probes.toSeq), "ms", probes.size))
    val have = (own ++ generic).toMap
    Run.Layers.map { case (k, unit) => k -> have.getOrElse(k, Metric(0d, unit, 0)) }
  }
}

object Run {
  def show(x: Any): String = (x match {
    case a: Iterable[_] => a.toSeq.map(_.toString).sorted.mkString(", ")
    case o => o.toString
  }).take(600)

  def copyDir(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    Files.createDirectories(to)
    Files.list(from).iterator().asScala.foreach(f => Files.copy(f, to.resolve(f.getFileName)))
  }

  val Clients = 2
  val AcreageBatch = 5
  val ReadKinds = Seq("filter_count", "group_count", "search", "topk", "history", "similar")
  val WriteKinds = Seq("acreage", "filing")
  /** Passes in every batch window (a median of one pass is refused). */
  val MinPasses = 2
  /** Reads and writes in every window: ten reads beyond the median, and
    * enough writes for a median of several; the untraced half of a traced
    * run holds ten reads beyond the p90. */
  val MinReads = 21
  val MinWrites = 5
  val P90Reads = 100

  /** One block of operations, shuffled: 20 reads in fixed shares and three
    * writes. The shares are assumptions, not measured traffic (BENCHMARK.md
    * gives the reason for each). A window holds whole blocks, so its mix
    * is exact and a median does not wander with which request types
    * happened to be drawn. */
  val Deck: Seq[String] = Seq.fill(3)("write") ++
    Seq("filter_count" -> 5, "group_count" -> 4, "search" -> 4, "topk" -> 2,
      "history" -> 3, "similar" -> 2).flatMap { case (k, n) => Seq.fill(n)(k) }
  val BlockWrites: Int = Deck.count(_ == "write")
  val BlockReads: Int = Deck.size - BlockWrites

  private val schemas = new java.util.concurrent.ConcurrentHashMap[String,
    org.apache.spark.sql.types.StructType]()
  def parquetSchema(spark: SparkSession, dir: String): org.apache.spark.sql.types.StructType =
    schemas.computeIfAbsent(dir, d => spark.read.parquet(d).schema)

  /** Every per-layer metric with its unit, in BENCHMARK.json order
    * (run.py checks the printed names and units against that file). */
  val Layers: Seq[(String, String)] = Seq(
    "ingest.read_s" -> "s", "ingest.rows_in" -> "count",
    "model.form990_s" -> "s", "model.ipeds_panel_s" -> "s",
    "ops.subsidiary.flagged" -> "count", "core.engine_s" -> "s",
    "ops.dedup.match_s" -> "s", "ops.dedup.candidates" -> "count",
    "ops.dedup.verified_per_candidate" -> "ratio",
    "ops.merge.integrate_s" -> "s", "sinks.write_s" -> "s",
    "read_p90_ms" -> "ms", "write_p50_ms" -> "ms",
    "plans.plan_ms" -> "ms", "plans.summary_hit_frac" -> "ratio",
    "req.filter_count_ms" -> "ms", "req.group_count_ms" -> "ms",
    "req.search_ms" -> "ms", "req.topk_ms" -> "ms", "req.history_ms" -> "ms",
    "req.similar_ms" -> "ms", "ops.merge.update_ms" -> "ms",
    "ops.merge.ivm_ms" -> "ms", "ops.merge.cdc_rows" -> "count",
    "core.cache_rebuild_ms" -> "ms", "spark.jobs" -> "count",
    "spark.tasks" -> "count", "spark.shuffle_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_ms" -> "ms", "spark.cpu_util" -> "ratio",
    "spark.sched_wait_ms" -> "ms", "storage.cached_mb" -> "MB",
    "jvm.heap_after_gc_mb" -> "MB", "host.probe_ms" -> "ms",
    "trace.overhead_pct" -> "%")
}

/** Seeded, Zipf-skewed request parameters drawn from the served master, so
  * popular filters, terms and entities repeat. */
final class Params(model: Model, seed: Long) {
  private val rows = model.rows.values.toSeq
  private val states = rows.groupBy(_.state).toSeq.sortBy(-_._2.size).map(_._1).toIndexedSeq
  private val terms = rows.flatMap(_.name.toLowerCase.split(" ").filter(_.length >= 5))
    .groupBy(identity).toSeq.sortBy { case (w, ws) => (-ws.size, w) }.map(_._1)
    .take(Params.Vocabulary).toIndexedSeq
  private val scored = {
    val r = new scala.util.Random(seed)
    r.shuffle(rows.filter(_.emb.isDefined).map(_.id).sorted).toIndexedSeq
  }
  private val entities = {
    val r = new scala.util.Random(seed + 1)
    r.shuffle(model.history.keys.toSeq.sorted).toIndexedSeq
  }

  /** Zipf rank in [0, n). */
  private def zipf(n: Int, rng: scala.util.Random): Int = {
    val cdf = Params.cdf(n)
    val x = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, x)
    (if (i >= 0) i else -i - 1).min(n - 1)
  }

  def request(kind: String, rng: scala.util.Random): Request = kind match {
    case "filter_count" =>
      FilterCount(states(zipf(states.size, rng)), Seq(0d, 20d, 40d, 60d)(rng.nextInt(4)),
        if (rng.nextBoolean()) "IPEDS" else "Hummingbird_990",
        if (rng.nextDouble() < 0.3) Some(Seq(100d, 400d)(rng.nextInt(2))) else None)
    case "group_count" => GroupCount(states(zipf(states.size, rng)))
    case "search" => Search(terms(zipf(terms.size, rng)))
    case "topk" => TopKRequest(if (rng.nextBoolean()) "IPEDS" else "Hummingbird_990")
    case "history" => History(entities(zipf(entities.size, rng)))
    case "similar" => Similar(scored(zipf(scored.size, rng)))
  }
}

object Params {
  /** Assumed skew and search vocabulary, not measured (see BENCHMARK.md). */
  val ZipfExponent = 1.1
  val Vocabulary = 400

  private val cdfs = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
  def cdf(n: Int): Array[Double] = cdfs.computeIfAbsent(n, { n =>
    val w = (1 to n).map(k => 1.0 / math.pow(k, ZipfExponent))
    val total = w.sum
    w.scanLeft(0d)(_ + _).tail.map(_ / total).toArray
  })
}
