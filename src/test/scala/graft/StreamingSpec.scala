package graft

import java.nio.file.Files

import graft.queries.EventsQueries
import graft.streaming.EventStream

/** The streaming slice must agree with its batch equivalent: a tumbling
  * windowed aggregation over the same events parquet, and an idempotent
  * foreachBatch upsert. */
class StreamingSpec extends SparkSuite {

  test("streaming tumbling counts equal the batch tumbling query") {
    val tmp = Files.createTempDirectory("graftstream").toFile.getAbsolutePath
    val agg = EventStream.tumblingCounts(EventStream.source(spark, sf))
    val got = EventStream.runToMemory(spark, agg, "tumbling_out", s"$tmp/ckpt")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val exp = EventsQueries.queries("q_events_tumbling")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got == exp)
  }

  test("streaming Misra-Gries summary equals the batch frequent-items twin") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("grafthh").toFile.getAbsolutePath
    val agg = EventStream.hittersByType(EventStream.source(spark, sf))
    val got = EventStream.runToMemory(spark, agg, "hh_out", s"$tmp/ckpt")
      .select(col("event_type"), explode(col("hh")).as("t"))
      .select("event_type", "t.item", "t.count_est")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val exp = EventsQueries.queries("q_stream_hitters")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(2)) -> r.getLong(3)).toMap
    assert(got == exp)
  }

  test("streaming sliding counts equal the batch sliding query") {
    val tmp = Files.createTempDirectory("graftslide").toFile.getAbsolutePath
    val agg = EventStream.slidingCounts(EventStream.source(spark, sf))
    val got = EventStream.runToMemory(spark, agg, "sliding_out", s"$tmp/ckpt")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val exp = EventsQueries.queries("q_events_sliding")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got == exp)
  }

  test("stateful sessionization matches the windowed batch sessionize query") {
    val typed = graft.streaming.Sessionize
      .sessionize(spark, graft.core.Tables.events(spark, sf), 1800L * 1000000L)
      .collect()
      .map(s => (s.user_id, s.start_us) -> (s.n_events, s.end_us)).toMap
    val batch = graft.queries.EventsQueries.queries("q_sessionize")(spark, sf)
      .collect()
      .map(r => (r.getLong(r.fieldIndex("user_id")), r.getLong(r.fieldIndex("start_us"))) ->
        (r.getLong(r.fieldIndex("n_events")), r.getLong(r.fieldIndex("end_us")))).toMap
    assert(typed.nonEmpty)
    assert(typed == batch)
  }

  test("stream-static enrichment join equals the batch twin query") {
    val tmp = Files.createTempDirectory("graftse").toFile.getAbsolutePath
    val agg = EventStream.enrichBySegment(
      EventStream.source(spark, sf), graft.core.Tables.customer(spark, sf))
    val got = EventStream.runToMemory(spark, agg, "enrich_out", s"$tmp/ckpt")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val exp = EventsQueries.queries("q_stream_enrich")(spark, sf)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(exp.nonEmpty)
    assert(got == exp)
  }

  test("stream-stream interval join equals the batch twin query") {
    val tmp = Files.createTempDirectory("graftsj").toFile.getAbsolutePath
    val joined = EventStream.intervalJoin(EventStream.source(spark, sf))
    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("sj_out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(r.fieldIndex("view_id")), r.getLong(r.fieldIndex("click_id")),
        r.getLong(r.fieldIndex("view_ts_us")), r.getLong(r.fieldIndex("click_ts_us")))
    val got = spark.table("sj_out").collect().map(key).toSet
    val exp = EventsQueries.queries("q_stream_join")(spark, sf).collect().map(key).toSet
    assert(exp.nonEmpty)
    assert(got == exp, s"stream join diverged: missing=${(exp -- got).take(3)} " +
      s"extra=${(got -- exp).take(3)}")
  }

  test("transformWithState running totals: final snapshot equals batch aggregation") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("grafttws").toFile.getAbsolutePath
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(conf)
    // the transformWithState API requires the RocksDB provider
    spark.conf.set(conf,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = graft.streaming.RunningTotals.totals(EventStream.source(spark, sf))
      val q = out.writeStream
        .outputMode("update")
        .format("memory")
        .queryName("tws_out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the fold is commutative, so the LAST snapshot per user (max
      // n_events) is batch-slicing-independent
      val got = spark.table("tws_out").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .groupBy(_._1).map { case (u, rows) => u -> rows.map(_._2).maxBy(_._1) }
      val exp = graft.core.Tables.events(spark, sf)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(exp.nonEmpty)
      assert(got == exp,
        s"running totals diverged: ${(exp.toSet -- got.toSet).take(3)} vs ${(got.toSet -- exp.toSet).take(3)}")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(conf, v)
        case None => spark.conf.unset(conf)
      }
    }
  }

  test("ListState spike monitor: final snapshot equals the batch rate-spike query") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graftspk").toFile.getAbsolutePath
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(conf)
    spark.conf.set(conf,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = graft.streaming.SpikeMonitor.spikes(EventStream.source(spark, sf))
      val q = out.writeStream
        .outputMode("update")
        .format("memory")
        .queryName("spike_out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // rows at the per-key max hours_seen are the complete snapshot (a
      // key's last input batch has merged every hour of its data)
      val all = spark.table("spike_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getBoolean(4), r.getInt(5)))
      val maxSeen = all.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._6).max }
      val got = all.filter(r => r._6 == maxSeen(r._1))
        .map(r => (r._1, r._2, r._3, r._4, r._5)).toSet
      val exp = graft.queries.EventsQueries.queries("q_rate_spikes")(spark, sf)
        .collect()
        .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3),
          r.getBoolean(4))).toSet
      assert(exp.nonEmpty)
      assert(got == exp,
        s"spike monitor diverged: missing=${(exp -- got).take(3)} extra=${(got -- exp).take(3)}")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(conf, v)
        case None => spark.conf.unset(conf)
      }
    }
  }

  test("chained stateful query (join -> tumbling agg) equals the batch twin") {
    val tmp = Files.createTempDirectory("graftjt").toFile.getAbsolutePath
    val agg = EventStream.joinThenTumbling(EventStream.source(spark, sf))
    val q = agg.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("jt_out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val exp0 = EventsQueries.queries("q_join_tumbling")(spark, sf).collect()
    // append mode only finalizes windows the last watermark passed. With
    // per-side watermarks the GLOBAL watermark is the MIN across both
    // inputs: min(max view_ts, max click_ts) - 1h. Deriving the cutoff
    // from max(window_start) of the batch result would assume the two
    // stream maxima coincide — if the click stream's max event time
    // trails the view stream's, that cutoff includes windows the
    // append-mode query has not finalized yet (flaky assert)
    import org.apache.spark.sql.functions.{col, max, unix_micros}
    val ev = graft.core.Tables.events(spark, sf)
    def sideMaxUs(eventType: String): Long = ev
      .filter(col("event_type") === eventType)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val wmUs = math.min(sideMaxUs("view"), sideMaxUs("click")) - 3600000000L
    val exp = exp0.filter(_.getLong(0) + 3600000000L <= wmUs)
      .map(key).toSet
    val got = spark.table("jt_out").collect()
      .filter(_.getLong(0) + 3600000000L <= wmUs).map(key).toSet
    assert(exp.nonEmpty)
    assert(got == exp, s"chained stateful diverged: missing=${(exp -- got).take(3)} " +
      s"extra=${(got -- exp).take(3)}")
  }

  test("left-outer stream join equals the batch twin on the emit-eligible prefix") {
    val tmp = Files.createTempDirectory("graftsjo").toFile.getAbsolutePath
    val joined = EventStream.intervalJoinOuter(EventStream.source(spark, sf))
    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("sjo_out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(r.fieldIndex("view_id")),
        if (r.isNullAt(r.fieldIndex("click_id"))) -1L
        else r.getLong(r.fieldIndex("click_id")))
    val exp0 = EventsQueries.queries("q_stream_join_outer")(spark, sf).collect()
    // a null row for view v only emits once the watermark passes
    // view_ts + window; the stream ends with watermark = max(ts) - 1h, so
    // views younger than maxTs - (1h + 30min) may still be open — compare
    // on the provably-emitted prefix
    val maxTs = exp0.map(_.getLong(exp0.head.fieldIndex("view_ts_us"))).max
    val cutoff = maxTs - (3600L + 1800L) * 1000000L
    def eligible(r: org.apache.spark.sql.Row) =
      r.getLong(r.fieldIndex("view_ts_us")) < cutoff
    val exp = exp0.filter(eligible).map(key).toSet
    val got = spark.table("sjo_out").collect().filter(eligible).map(key).toSet
    assert(exp.nonEmpty)
    assert(exp.exists(_._2 == -1L), "expected some never-clicked views")
    assert(got == exp, s"outer stream join diverged: missing=${(exp -- got).take(3)} " +
      s"extra=${(got -- exp).take(3)}")
  }

  test("left-outer stream join emits the null row when the watermark expires a view") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[(Long, Long, Long, String)]
    val events = src.toDF().toDF("sec", "event_id", "user_id", "event_type")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val joined = EventStream.intervalJoinOuter(events,
      joinWindow = "30 seconds", watermark = "10 seconds")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("sjo_evict").start()
    try {
      // view at t=100 with NO click; a matched pair elsewhere for contrast
      src.addData((100L, 1L, 7L, "view"), (105L, 2L, 8L, "view"),
        (110L, 3L, 8L, "click"))
      q.processAllAvailable()
      // nothing forces the unmatched row out yet
      val early = spark.table("sjo_evict").collect()
        .filter(r => r.getLong(r.fieldIndex("view_id")) == 1L)
      assert(early.isEmpty, s"unmatched view emitted before expiry: ${early.toSeq}")
      // advance the watermark far past 100 + 30 + 10
      src.addData((500L, 4L, 9L, "view"), (500L, 5L, 9L, "click"))
      q.processAllAvailable()
      val rows = spark.table("sjo_evict").collect()
        .map(r => (r.getLong(r.fieldIndex("view_id")),
          if (r.isNullAt(r.fieldIndex("click_id"))) -1L
          else r.getLong(r.fieldIndex("click_id")))).toSet
      assert(rows.contains((1L, -1L)),
        s"expired unmatched view did not emit its null row: $rows")
      assert(rows.contains((2L, 3L)), s"matched pair missing: $rows")
    } finally q.stop()
  }

  test("stream-stream join state evicts buffered rows past the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // (epoch sec, event_id, user, type) through the same intervalJoin shape
    val src = MemoryStream[(Long, Long, Long, String)]
    val events = src.toDF().toDF("sec", "event_id", "user_id", "event_type")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val joined = EventStream.intervalJoin(events,
      joinWindow = "30 seconds", watermark = "10 seconds")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("sj_evict").start()
    try {
      // view at t=100; matching click at t=120 (inside the 30s window);
      // times start away from epoch 0 — the initial watermark is 0 and an
      // event AT exactly 0 falls on the late-filter boundary
      src.addData((100L, 1L, 7L, "view"), (120L, 2L, 7L, "click"))
      q.processAllAvailable()
      // advance both watermarks far past 100+30+10: the view's state expires
      src.addData((500L, 3L, 7L, "view"), (500L, 4L, 7L, "click"))
      q.processAllAvailable()
      // a click that WOULD match the expired view must not join
      src.addData((125L, 5L, 7L, "click"))
      q.processAllAvailable()
      val pairs = spark.table("sj_evict").collect()
        .map(r => (r.getLong(r.fieldIndex("view_id")),
          r.getLong(r.fieldIndex("click_id")))).toSet
      assert(pairs.contains((1L, 2L)), s"in-window pair missing: $pairs")
      assert(pairs.contains((3L, 4L)), s"same-instant pair missing: $pairs")
      assert(!pairs.contains((1L, 5L)),
        s"join used state that should have been evicted: $pairs")
    } finally q.stop()
  }

  test("ingest near-dup suppression against a persisted simhash index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tmp = Files.createTempDirectory("graftndd").toFile.getAbsolutePath
    val a = "the quick brown fox jumps over the lazy dog near the river bank"
    val b = "completely different content about distributed query engines and shuffles"
    val c = "a third unrelated document concerning winnowing fingerprints and bands"
    val src = MemoryStream[(Long, String)]
    val docs = src.toDF().toDF("doc_id", "text")
    def run(): Unit = graft.streaming.NearDupStream.runIngestDedup(
      spark, docs, s"$tmp/index", s"$tmp/kept", s"$tmp/ckpt")
    // batch 1: 10 kept; 11 (identical to 10) suppressed intra-batch
    // (larger id loses); 12 unique kept
    src.addData((10L, a), (11L, a), (12L, b))
    run()
    // batch 2: 20 duplicates indexed 10 -> suppressed; 5 ALSO duplicates
    // 10 but has a SMALLER id than the corpus doc — the corpus must still
    // win (pair orientation edge); 21 unique kept; 22 dup of 21 in the
    // same batch -> suppressed
    src.addData((20L, a), (5L, a), (21L, c), (22L, c))
    run()
    val kept = spark.read.parquet(s"$tmp/kept")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 12L, 21L), s"wrong survivors: $kept")
    // the index holds exactly the survivors' fingerprints
    val idx = spark.read.parquet(s"$tmp/index")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(idx == kept, s"index diverged from survivors: $idx")
  }

  test("watermark drops events later than the threshold (append mode)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[(Long, String)] // (epoch seconds, key)
    val events = src.toDF().toDF("sec", "k")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val agg = events
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "30 seconds"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("w"), col("k"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      // batch 1: window [0,30) gets 2 events; watermark advances to 100-10=90
      src.addData((5L, "a"), (25L, "a"), (100L, "a"))
      q.processAllAvailable()
      // batch 2: a late event for the already-finalized [0,30) window — must
      // be DROPPED, and the finalized window emitted with n=2
      src.addData((10L, "a"), (130L, "a"))
      q.processAllAvailable()
      // batch 3: push watermark far ahead so remaining windows finalize
      src.addData((500L, "a"))
      q.processAllAvailable()
      val out = spark.table("late_out").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(out(0L) == 2, s"late event leaked into the finalized window: $out")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark suppresses dups until state expiry") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[(Long, Long)] // (epoch seconds, event_id)
    val events = src.toDF().toDF("sec", "event_id")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val dd = EventStream.dedupWithinWatermark(events, "10 seconds")
      .select("sec", "event_id")
    val q = dd.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      // batch 1: id 1 twice (dup within delay -> one emission), id 2 once
      src.addData((5L, 1L), (6L, 1L), (7L, 2L))
      q.processAllAvailable()
      // batch 2: id 1 again while state live -> dropped; id 3 advances the
      // watermark to 100-10=90, expiring id 1's state (5+10 < 90)
      src.addData((8L, 1L), (100L, 3L))
      q.processAllAvailable()
      // batch 3: id 1 after expiry -> a NEW first arrival, emitted again
      src.addData((101L, 1L))
      q.processAllAvailable()
      val out = spark.table("dedup_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val perId = out.groupBy(_._2).view.mapValues(_.length).toMap
      assert(perId(1L) == 2, s"expected pre- and post-expiry emissions: ${out.toSeq}")
      assert(perId(2L) == 1 && perId(3L) == 1, out.toSeq.toString)
      assert(out.contains((5L, 1L)) && !out.contains((6L, 1L)) && !out.contains((8L, 1L)),
        s"first arrival must win: ${out.toSeq}")
    } finally q.stop()
  }

  test("stream-static broadcast enrichment join keeps unmatched rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[(Long, Double)] // (c_custkey, value)
    val events = src.toDF().toDF("c_custkey", "value")
    // the at-ingest enrichment pattern: a static dim broadcast against the
    // micro-batch, no stateful shuffle
    val dim = graft.core.Tables.customer(spark, sf)
      .select("c_custkey", "c_mktsegment")
    val joined = events.join(broadcast(dim), Seq("c_custkey"), "left")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try {
      src.addData((1L, 10.0), (2L, 20.0), (999999L, 5.0))
      q.processAllAvailable()
      val out = spark.table("enrich_out").collect()
        .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
      assert(out.size == 3)
      assert(out(1L).isDefined && out(2L).isDefined, s"dim match missing: $out")
      assert(out(999999L).isEmpty, "left join must keep unmatched stream rows")
    } finally q.stop()
  }

  test("upsert recovers exactly-once after a crash between store write and commit") {
    val tmp = Files.createTempDirectory("graftcrash").toFile.getAbsolutePath
    val store = s"$tmp/store"
    val ckpt = s"$tmp/ckpt" // ONE checkpoint across both runs = a restart
    // run 1: dies at the worst point — store already swapped, batch not
    // yet committed to the checkpoint
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStream.runUpsert(spark, EventStream.source(spark, sf), store, ckpt,
        afterBatch = _ => throw new RuntimeException("injected crash"))
    }
    assert(crashed.getMessage.contains("injected crash"))
    assert(new java.io.File(store).exists(), "crash happened after the store swap")
    // run 2 (the restart): the uncommitted batch replays; the
    // only-update-if-better merge must absorb the replay harmlessly
    EventStream.runUpsert(spark, EventStream.source(spark, sf), store, ckpt)
    val got = spark.read.parquet(store).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exp = graft.core.Tables.events(spark, sf)
      .groupBy("user_id").agg(org.apache.spark.sql.functions.max("value").as("value"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == exp, "restarted upsert must equal the batch result exactly once")
  }

  test("streaming as-of enrich equals the batch native as-of join") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graftaoe").toFile.getAbsolutePath
    val e = graft.core.Tables.events(spark, sf)
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("v_user"),
        unix_micros(col("ts")).as("view_ts_us"))
      .agg(max(col("event_id")).as("view_id"))
    val clicksStream = EventStream.source(spark, sf)
      .filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("click_ts_us"),
        col("event_id").as("click_id"))
    graft.streaming.AsOfEnrich.run(spark, clicksStream, views,
      s"$tmp/out", s"$tmp/ckpt")
    val got = spark.read.parquet(s"$tmp/out")
      .select("user_id", "click_id", "click_ts_us", "view_id", "view_ts_us")
      .collect().map(_.toSeq).toSet
    val exp = SparkEntry.queries("q_asof_exec")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty && got == exp,
      "point-in-time streaming enrichment diverged from the batch as-of join")
  }

  test("simhash ingest-dedup index resumes across a session boundary") {
    // the simhash index is parquet on disk; a batch screened by a
    // resumed session suppresses exactly what the in-session chain would
    // have suppressed.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val tmp = Files.createTempDirectory("graftsimresume").toFile.getAbsolutePath
    val a = "the quick brown fox jumps over the lazy dog near the river bank"
    val b = "completely different content about distributed query engines and shuffles"
    val c = "a third unrelated document concerning winnowing fingerprints and bands"
    locally {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val src = MemoryStream[(Long, String)]
      src.addData((10L, a), (11L, b))
      graft.streaming.NearDupStream.runIngestDedup(
        spark, src.toDF().toDF("doc_id", "text"),
        s"$tmp/index", s"$tmp/kept", s"$tmp/ckptA")
    }
    graft.core.SharedFrames.clear()
    spark.catalog.clearCache()
    val sparkB = spark.newSession()
    locally {
      implicit val sqlCtx = sparkB.sqlContext
      import sparkB.implicits._
      val srcB = MemoryStream[(Long, String)]
      // 20/21 duplicate the docs indexed BEFORE the restart (must be
      // suppressed by the RESUMED index); 22 is new (must survive)
      srcB.addData((20L, a), (21L, b), (22L, c))
      graft.streaming.NearDupStream.runIngestDedup(
        sparkB, srcB.toDF().toDF("doc_id", "text"),
        s"$tmp/index", s"$tmp/kept", s"$tmp/ckptB")
    }
    val kept = sparkB.read.parquet(s"$tmp/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 11L, 22L),
      s"resumed simhash index mis-screened the post-restart batch: $kept")
    graft.core.SharedFrames.clear()
  }

  test("streaming summary maintenance: maintain == rebuild with retractions, " +
    "resumes across a session boundary, no-data re-run is a no-op") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graftsummarystream").toFile.getAbsolutePath
    val store = s"$tmp/store"
    // exact money as integer cents: sum-merge == rebuild needs exact
    // arithmetic (the DECIMAL discipline; cents are its integer twin)
    val o = graft.core.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    val third = o.length / 3
    val (sa, sb, sc) = (o.take(third), o.slice(third, 2 * third), o.drop(2 * third))
    // batch 2 RETRACTS half of batch 1's rows (GDPR-style removal set)
    val retract = sa.filter(_._1 % 2 == 0).toSet
    def ins(rows: Seq[(Long, String, Long)]) =
      rows.map { case (_, p, cents) => (p, 1L, cents) }
    def del(rows: Seq[(Long, String, Long)]) =
      rows.map { case (_, p, cents) => (p, -1L, -cents) }
    locally {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val src = MemoryStream[(String, Long, Long)]
      def stream = src.toDF().toDF("o_orderpriority", "cnt", "cents")
      src.addData(ins(sa))
      graft.streaming.SummaryStream.runSummaryMaintenance(
        stream, Seq("o_orderpriority"), store, s"$tmp/ckptA")
      src.addData(ins(sb) ++ del(retract.toSeq))
      graft.streaming.SummaryStream.runSummaryMaintenance(
        stream, Seq("o_orderpriority"), store, s"$tmp/ckptA")
    }
    // ---- restart boundary: a new session resumes from the store alone ----
    graft.core.SharedFrames.clear()
    spark.catalog.clearCache()
    val sparkB = spark.newSession()
    locally {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = sparkB.sqlContext
      import sparkB.implicits._
      val srcB = MemoryStream[(String, Long, Long)]
      srcB.addData(ins(sc))
      graft.streaming.SummaryStream.runSummaryMaintenance(
        srcB.toDF().toDF("o_orderpriority", "cnt", "cents"),
        Seq("o_orderpriority"), store, s"$tmp/ckptB")
    }
    def viewNow(): Map[String, (Long, Long)] =
      graft.streaming.SummaryStream
        .loadView(sparkB, store, Seq("o_orderpriority"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = viewNow()
    // direct rebuild over (everything inserted) minus (every retraction)
    val net = sa.filterNot(retract.contains) ++ sb ++ sc
    val exp = net.groupBy(_._2).map { case (p, rows) =>
      p -> (rows.size.toLong, rows.map(_._3).sum)
    }
    assert(got.nonEmpty && got == exp,
      s"streamed view diverged from the direct rebuild: got ${got.take(2)}")
    // AvailableNow with no new data must add nothing (same lineage)
    locally {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = sparkB.sqlContext
      import sparkB.implicits._
      val srcC = MemoryStream[(String, Long, Long)]
      graft.streaming.SummaryStream.runSummaryMaintenance(
        srcC.toDF().toDF("o_orderpriority", "cnt", "cents"),
        Seq("o_orderpriority"), store, s"$tmp/ckptB2")
    }
    assert(viewNow() == got, "empty re-run changed the view")
    graft.core.SharedFrames.clear()
  }

  test("foreachBatch upsert is idempotent and only updates if better") {
    val tmp = Files.createTempDirectory("graftupsert").toFile.getAbsolutePath
    val store = s"$tmp/store"
    EventStream.runUpsert(spark, EventStream.source(spark, sf), store, s"$tmp/c1")
    val first = spark.read.parquet(store).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // re-run with a fresh checkpoint (same data): only-update-if-better
    // must leave the store unchanged
    EventStream.runUpsert(spark, EventStream.source(spark, sf), store, s"$tmp/c2")
    val second = spark.read.parquet(store).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(first == second)
    assert(first.nonEmpty)
  }
}
