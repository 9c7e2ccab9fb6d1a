package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{SimHash, Winnow}
import graft.plans.GraftExtensions

/** SQL-surface registration of the native expressions: after
  * GraftExtensions.registerAll (or spark.sql.extensions at session build),
  * simhash/simhash16/winnow/dot_product are callable from spark.sql and
  * resolve to the SAME codegen expressions as the Scala API. */
class ExtensionsSpec extends AnyFunSuite with SparkSuite {

  test("registered SQL functions equal the Scala API / driver-side values") {
    GraftExtensions.registerAll(spark)
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different content with its own vocabulary entirely")
    ).toDF("id", "text")
    df.createOrReplaceTempView("ext_docs")

    val got = spark.sql(
      """SELECT id, simhash(text) AS sh, simhash16(text) AS sh16, winnow(text) AS fps
        |FROM ext_docs ORDER BY id""".stripMargin).collect()
    assert(got.length == 2)
    got.foreach { r =>
      val text = df.filter(col("id") === r.getLong(0))
        .select("text").as[String].head()
      assert(r.getLong(1) == SimHash.computeString(text))
      assert(r.getLong(2) == SimHash.compute16String(text))
      assert(r.getSeq[Long](3) == Winnow.fingerprintsString(text).toSeq)
    }

    val dp = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .collect().head.getDouble(0)
    assert(dp == 32.0)
  }

  test("token-count rewrite fires on the regex pattern and values agree") {
    import spark.implicits._
    // literal frames constant-fold to a LocalRelation, so the plan-shape
    // assertions use the parquet-backed corpus where the Project survives
    val docs = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("""\S+"""), lit(0))).as("n"))
    // SparkSuite installs the rewrite: the optimized plan must carry the
    // native expression, not the regex + array materialization
    val opt = docs.queryExecution.optimizedPlan.toString
    assert(opt.contains("token_count"), opt)
    assert(!opt.contains("regexp_extract_all"), opt)
    // end-to-end values through the rewritten path
    val lit5 = Seq("a b  c", "", "   ", "one", "\ttabs\tand\nnewlines\r\n x")
      .toDF("text")
      .select(size(regexp_extract_all(col("text"), lit("""\S+"""), lit(0))).as("n"))
    assert(lit5.as[Int].collect().toSeq == Seq(3, 0, 0, 1, 4))
    // group != 0 or a different pattern must NOT be rewritten
    val other = graft.core.Tables.documents(spark, sf)
      .select(size(regexp_extract_all(col("text"), lit("""\w+"""), lit(0))).as("n"))
    assert(!other.queryExecution.optimizedPlan.toString.contains("token_count"))
  }

  test("chars-nospace rewrite fires on the regex pattern and values agree") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"),
        length(regexp_replace(col("text"), """\s+""", "")).as("n"))
    val opt = docs.queryExecution.optimizedPlan.toString
    assert(opt.contains("chars_nospace"), opt)
    assert(!opt.contains("regexp_replace"), opt)
    // end-to-end values through the rewritten path (incl. multi-byte and
    // non-BMP codepoints, each counting ONCE like length() does)
    val lit5 = Seq("a b  c", "", "   ", "héllo 中文", "x\ty😀")
      .toDF("text")
      .select(length(regexp_replace(col("text"), """\s+""", "")).as("n"))
    assert(lit5.as[Int].collect().toSeq == Seq(3, 0, 0, 7, 3))
    // a non-empty replacement must NOT be rewritten
    val other = graft.core.Tables.documents(spark, sf)
      .select(length(regexp_replace(col("text"), """\s+""", " ")).as("n"))
    assert(!other.queryExecution.optimizedPlan.toString.contains("chars_nospace"))
  }

  test("norm-text rewrite fires on the normText idiom and equals the regex form") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sf)
      .select(graft.ops.Dedup.normText(col("text")).as("t"))
    val opt = docs.queryExecution.optimizedPlan.toString
    assert(opt.contains("norm_text"), opt)
    assert(!opt.contains("regexp_replace"), opt)

    // law: the one-pass native form == the regex formulation — written
    // as '\s\s*' so the rewrite rule cannot collapse the comparison to
    // norm_text == norm_text. Adversarial fixture: every Java \s char,
    // NBSP (NOT Java \s — must stay content), case folding with
    // multi-byte expansion (dotted I, sharp s) and a non-BMP emoji,
    // all-whitespace and empty strings.
    val parrot = new String(Character.toChars(0x1F99C))
    val fixture = Seq("", " ", " \t\n\r ", "  a  B  ",
      "a b", "MiXeD CaSe\tX ", s"emoji $parrot  x",
      "İstanbul Iı", "STRAßE ẞ!", "ñ  x")
    def both(df: org.apache.spark.sql.DataFrame): (Seq[String], Seq[String]) = (
      df.select(graft.functions.NormText.normText(col("text")))
        .as[String].collect().toSeq,
      df.select(trim(regexp_replace(lower(col("text")), """\s\s*""", " ")))
        .as[String].collect().toSeq)
    val (g1, w1) = both(fixture.toDF("text"))
    assert(g1 == w1, s"fixture mismatch:\n$g1\n$w1")
    // seeded pseudo-random strings over a whitespace-heavy token pool
    val rng = new scala.util.Random(42)
    val toks = Seq("a", "Z", " ", "\t", "\n", "", "", "\r",
      " ", "İ", "ß", parrot)
    val rand = (1 to 500).map(_ =>
      Seq.fill(rng.nextInt(30))(toks(rng.nextInt(toks.length))).mkString)
    val (g2, w2) = both(rand.toDF("text"))
    assert(g2 == w2)
    // corpus-level: zero mismatches through the rewritten path
    val mism = graft.core.Tables.documents(spark, sf)
      .filter(graft.ops.Dedup.normText(col("text")) =!=
        trim(regexp_replace(lower(col("text")), """\s\s*""", " ")))
      .count()
    assert(mism == 0L)
    // near-miss idioms must NOT be rewritten: a different replacement,
    // and the same replace without the lower()
    val other = graft.core.Tables.documents(spark, sf)
      .select(trim(regexp_replace(lower(col("text")), """\s+""", "_")))
    assert(!other.queryExecution.optimizedPlan.toString.contains("norm_text"))
    val noLower = graft.core.Tables.documents(spark, sf)
      .select(trim(regexp_replace(col("text"), """\s+""", " ")))
    assert(!noLower.queryExecution.optimizedPlan.toString.contains("norm_text"))
  }

  test("top_k aggregate == window row_number formulation (law + tiebreak)") {
    GraftExtensions.registerAll(spark)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // planted ties: equal values must break by id ASC
    val df = Seq(
      ("a", 1L, 5.0), ("a", 2L, 5.0), ("a", 3L, 7.0), ("a", 4L, 1.0),
      ("b", 5L, 2.0), ("b", 6L, 2.0), ("b", 7L, 2.0),
      ("c", 8L, 9.0)).toDF("g", "id", "v")
    // Spark's SQL sort ranks NaN above every value and -0.0 equal to 0.0
    val special = Seq(
      ("n", 1L, 1.0), ("n", 2L, Double.NaN), ("n", 3L, 0.5),
      ("z", 4L, -0.0), ("z", 5L, 0.0)).toDF("g", "id", "v")
    // values compare by bits: NaN != NaN and -0.0 == 0.0 under tuple ==
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    def law(in: org.apache.spark.sql.DataFrame, k: Int): Unit = {
      val agg = rows(in.groupBy("g")
        .agg(graft.functions.TopK.topK(col("v"), col("id"), k).as("top"))
        .select(col("g"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("g"), (col("pos") + 1).cast("long").as("rank"),
          col("t.id").as("id"), col("t.value").as("v")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("v").desc, col("id").asc)
      val win = rows(in.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select("g", "rank", "id", "v"))
      assert(agg == win, s"k=$k: aggregate diverged from window: " +
        s"missing=${win -- agg} extra=${agg -- win}")
    }
    law(df, 2)
    law(special, 1)
    law(special, 2)
    // SQL registration path
    val viaSql = df.createOrReplaceTempView("tk_in")
    val n = spark.sql(
      "SELECT g, top_k(v, id, 2) AS top FROM tk_in GROUP BY g").count()
    assert(n == 3)
    // the plan must be a partial-final object-hash aggregate, NOT a window
    // sort — that's the scale story (k entries per group per partition
    // move, not every row)
    val plan = df.groupBy("g")
      .agg(graft.functions.TopK.topK(col("v"), col("id"), 2).as("top"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && plan.contains("partial_top_k"),
      s"top_k did not plan as a partial object-hash aggregate:\n${plan.take(1200)}")
  }

  test("heavy_hitters SQL registration: exact regime + partial object-hash plan") {
    GraftExtensions.registerAll(spark)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq("x", "x", "y", "x", "z", "y").toDF("item")
    df.createOrReplaceTempView("hh_in")
    val got = spark.sql(
      "SELECT explode(heavy_hitters(item, 8)) AS t FROM hh_in")
      .select("t.item", "t.count_est").as[(String, Long)].collect().toMap
    assert(got == Map("x" -> 3L, "y" -> 2L, "z" -> 1L))
    val plan = df.agg(
        graft.functions.HeavyHitters.heavyHitters(col("item"), 8).as("hh"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") &&
      plan.contains("partial_heavy_hitters"),
      s"heavy_hitters did not plan as a partial object-hash aggregate:\n" +
        plan.take(1200))
  }

  test("as-of join plans through the native physical operator, two exchanges") {
    val df = SparkEntry.queries("q_asof_exec")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), // SparkPlan nodeName strips "Exec"
      s"expected the custom physical operator in the plan:\n${plan.take(1500)}")
    // one exchange per side (user-key co-partitioning) and no union —
    // the window encoding's union+window machinery must be absent
    assert(!plan.contains("Union"), "native as-of must not plan a union")
    assert(!plan.contains("RunningWindowFunction") && !plan.contains("Window"),
      "native as-of must not plan window state")
  }

  test("native as-of join equals the union+window encoding row-for-row") {
    val a = SparkEntry.queries("q_asof_exec")(spark, sf).collect().toSeq
    val b = SparkEntry.queries("q_asof_event")(spark, sf).collect().toSeq
    assert(a.nonEmpty && a == b,
      s"operator and encoding diverged: ${a.diff(b).take(3)} vs ${b.diff(a).take(3)}")
  }

  test("as-of tolerance bounds the match window; unmatched rows carry nulls") {
    import spark.implicits._
    val clicks = Seq((1L, 1000L, 10L), (1L, 5000L, 11L), (2L, 100L, 12L))
      .toDF("k", "ct", "click_id")
    val views = Seq((1L, 900L, 20L), (1L, 980L, 21L), (3L, 50L, 22L))
      .toDF("vk", "vt", "view_id")
    // unbounded: click 1000 -> view 980 (latest at-or-before), click 5000
    // -> 980 too, click at key 2 -> null
    val un = graft.plans.AsOfJoin.join(clicks, views, "k", "vk", "ct", "vt")
      .select("click_id", "view_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(un == Set((10L, 21L), (11L, 21L), (12L, -1L)))
    // tolerance 50us: click 1000 matches view 980 (delta 20) but click
    // 5000 is 4020us past the latest view -> null
    val tol = graft.plans.AsOfJoin.join(clicks, views, "k", "vk", "ct", "vt",
        toleranceUs = 50L)
      .select("click_id", "view_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(tol == Set((10L, 21L), (11L, -1L), (12L, -1L)))
  }

  test("left-side filters push through the as-of node into the scan") {
    import org.apache.spark.sql.functions.unix_micros
    val e = graft.core.Tables.events(spark, sf)
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("v_user"),
        unix_micros(col("ts")).as("view_ts_us"))
      .agg(org.apache.spark.sql.functions.max(col("event_id")).as("view_id"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("click_ts_us"),
        col("event_id").as("click_id"))
    val joined = graft.plans.AsOfJoin.join(clicks, views,
        "user_id", "v_user", "click_ts_us", "view_ts_us")
      .filter(col("user_id") < 100)
    // the optimized LOGICAL plan: no Filter may remain above the as-of
    // node (the left-only predicate commutes and must sink below it)
    val opt = joined.queryExecution.optimizedPlan
    val filterAboveJoin = opt.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.child.isInstanceOf[graft.plans.AsOfJoinPlan] => f
    }
    assert(filterAboveJoin.isEmpty,
      s"left-only filter was not pushed through the as-of node:\n$opt")
    // ...and it reaches the parquet scan as a pushed filter
    val phys = joined.queryExecution.executedPlan.toString
    assert(phys.contains("PushedFilters") &&
      phys.contains("LessThan(user_id,100)"),
      s"pushed filter did not reach the scan:\n${phys.take(2000)}")
    // correctness: pushed result equals filtering after the join
    val got = joined.collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty && got.forall(_ < 100))
    // a RIGHT-side predicate must NOT push (it would change matches):
    // the rule leaves a filter above the join for view_id predicates
    val rightFiltered = graft.plans.AsOfJoin.join(clicks, views,
        "user_id", "v_user", "click_ts_us", "view_ts_us")
      .filter(col("view_id") > 0)
    val stillAbove = rightFiltered.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.child.isInstanceOf[graft.plans.AsOfJoinPlan] => f
    }
    assert(stillAbove.nonEmpty,
      "right-side predicate must stay above the as-of join")
  }

  test("downstream aggregation reuses the as-of join's output partitioning") {
    import org.apache.spark.sql.functions.{count => cnt, lit, unix_micros}
    val e = graft.core.Tables.events(spark, sf)
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("v_user"),
        unix_micros(col("ts")).as("view_ts_us"))
      .agg(org.apache.spark.sql.functions.max(col("event_id")).as("view_id"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("click_ts_us"),
        col("event_id").as("click_id"))
    // outputPartitioning = left's HashPartitioning(user_id), so a groupBy
    // on the key must add NO exchange beyond what the join already plans
    val joined = graft.plans.AsOfJoin.join(clicks, views,
        "user_id", "v_user", "click_ts_us", "view_ts_us")
    def nExchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
    val base = nExchanges(joined)
    val agged = joined.groupBy("user_id").agg(cnt(lit(1)).as("n"))
    assert(agged.queryExecution.executedPlan.toString.contains("AsOfJoin"))
    assert(nExchanges(agged) == base,
      s"groupBy on the join key added an exchange (${nExchanges(agged)} vs $base)")
  }

  test("forward as-of picks the earliest at-or-after; backward law duality holds") {
    import spark.implicits._
    val clicks = Seq((1L, 1000L, 10L), (1L, 5000L, 11L), (2L, 100L, 12L))
      .toDF("k", "ct", "click_id")
    val views = Seq((1L, 1000L, 20L), (1L, 4000L, 21L), (1L, 6000L, 22L))
      .toDF("vk", "vt", "view_id")
    // click 1000 -> view at exactly 1000 (at-or-after includes equality),
    // click 5000 -> 6000, key 2 -> null
    val fwd = graft.plans.AsOfJoin.join(clicks, views, "k", "vk", "ct", "vt",
        direction = "forward")
      .select("click_id", "view_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(fwd == Set((10L, 20L), (11L, 22L), (12L, -1L)))
    // tolerance 500us: click 5000 -> 6000 is 1000us away -> null
    val tol = graft.plans.AsOfJoin.join(clicks, views, "k", "vk", "ct", "vt",
        toleranceUs = 500L, direction = "forward")
      .select("click_id", "view_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(tol == Set((10L, 20L), (11L, -1L), (12L, -1L)))
    // DUALITY: forward(left, right) on times == backward with both time
    // axes negated — a sign slip in either merge breaks it
    val negClicks = clicks.select(col("k"), (-col("ct")).as("ct"), col("click_id"))
    val negViews = views.select(col("vk"), (-col("vt")).as("vt"), col("view_id"))
    val bwdNeg = graft.plans.AsOfJoin.join(negClicks, negViews,
        "k", "vk", "ct", "vt")
      .select("click_id", "view_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(bwdNeg == fwd, "forward must equal backward on negated time axes")
  }

  test("as-of merge equals a brute-force reference on seeded random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xA50F)
    for (trial <- 1 to 25) {
      val nL = 1 + rnd.nextInt(40)
      val nR = rnd.nextInt(40)
      val clicks = (0 until nL).map(i =>
        (rnd.nextInt(5).toLong, rnd.nextInt(100).toLong, 1000L + i))
      // right side unique per (key, time) — the operator's documented
      // contract (production callers dedup, as the q_asof queries do)
      val views = rnd.shuffle((0 until nR).map(i =>
          (rnd.nextInt(5).toLong, rnd.nextInt(100).toLong, 2000L + i)))
        .groupBy(v => (v._1, v._2)).map(_._2.head).toSeq
      val tol = Seq(-1L, 0L, 5L, 50L)(rnd.nextInt(4))
      val fwd = rnd.nextBoolean()
      val got = graft.plans.AsOfJoin.join(
          clicks.toDF("k", "ct", "cid"), views.toDF("vk", "vt", "vid"),
          "k", "vk", "ct", "vt", toleranceUs = tol,
          direction = if (fwd) "forward" else "backward")
        .select("cid", "vid").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toMap
      val exp = clicks.map { case (k, ct, cid) =>
        val cands = views.filter(v => v._1 == k &&
          (if (fwd) v._2 >= ct && (tol < 0 || v._2 - ct <= tol)
           else v._2 <= ct && (tol < 0 || ct - v._2 <= tol)))
        val pick = if (fwd) cands.sortBy(_._2).headOption
                   else cands.sortBy(_._2).lastOption
        cid -> pick.map(_._3).getOrElse(-1L)
      }.toMap
      assert(got == exp,
        s"trial $trial (fwd=$fwd tol=$tol): " +
          s"diff=${(exp.toSet -- got.toSet).take(3)} vs ${(got.toSet -- exp.toSet).take(3)}")
    }
  }

  test("a fresh session built with the extension class resolves the functions") {
    // same SparkContext, new session with injected extensions (the static
    // spark.sql.extensions conf only applies when the context is built, so
    // an embedded test uses the programmatic hook — equivalent path)
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .create()
    try {
      val v = s2.sql("SELECT simhash16('alpha beta gamma') AS x")
        .collect().head.getLong(0)
      assert(v == SimHash.compute16String("alpha beta gamma"))
    } finally {
      // do NOT stop s2 — it shares the suite-wide SparkContext, and
      // close() would stop the context for every suite after this one;
      // just restore the shared session as default/active
      org.apache.spark.sql.SparkSession.setDefaultSession(SparkSuite.session)
      org.apache.spark.sql.SparkSession.setActiveSession(SparkSuite.session)
    }
  }

  test("summary rewrite: matching aggregate reads the summary, not the base scan") {
    import graft.plans.SummaryCatalog
    val dir = sf
    def userQuery() = graft.core.Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_base_price"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
    // a structural base-scan probe: plan toString omits file paths
    def scansBase(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves().exists {
        case org.apache.spark.sql.execution.datasources.LogicalRelation(
            fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
            _, _, _, _) =>
          fs.location.rootPaths.exists(_.toString.contains("lineitem"))
        case _ => false
      }
    // 1) no registration -> the direct plan, computed from the base scan
    SummaryCatalog.clear(spark)
    val direct = userQuery()
    assert(scansBase(direct), "baseline should scan the base table")
    val directRows = direct.collect().map(_.toSeq).toSeq
    // 2) the registered query: rewrite fires, base scan disappears
    val rewritten = SparkEntry.queries("q_summary_rewrite")(spark, dir)
    val plan = rewritten.queryExecution.optimizedPlan.toString
    assert(plan.contains("InMemoryRelation"), plan.take(2000))
    assert(!scansBase(rewritten),
      s"base scan survived the rewrite:\n${plan.take(2000)}")
    assert(rewritten.collect().map(_.toSeq).toSeq == directRows,
      "rewritten result diverged from the direct aggregation")
    // 3) non-match guards: each variation must KEEP the base scan
    def basePlanned(df: org.apache.spark.sql.DataFrame): Boolean = scansBase(df)
    val li = graft.core.Tables.lineitem(spark, dir)
    // filter on a non-dimension cannot be answered from the summary
    assert(basePlanned(li.where(col("l_quantity") > 30)
      .groupBy("l_returnflag").agg(sum(col("l_quantity").cast("decimal(18,2)")).as("s"))))
    // but a dims-ONLY filter re-targets onto the summary (whole groups)
    val filtered = SparkEntry.queries("q_summary_filter")(spark, dir)
    assert(!scansBase(filtered),
      s"dims-only WHERE kept the base scan:\n${filtered.queryExecution.optimizedPlan.toString.take(1500)}")
    // mixed dim + non-dim condition still disqualifies
    assert(basePlanned(li.where(col("l_linestatus") === "F" && col("l_quantity") > 30)
      .groupBy("l_returnflag").agg(sum(col("l_quantity").cast("decimal(18,2)")).as("s"))))
    // unregistered measure
    assert(basePlanned(li.groupBy("l_returnflag")
      .agg(sum(col("l_discount").cast("decimal(18,2)")).as("s"))))
    // underivable aggregate (avg)
    assert(basePlanned(li.groupBy("l_returnflag").agg(avg("l_quantity").as("a"))))
    // non-dimension grouping key
    assert(basePlanned(li.groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("s"))))
    // distinct sum
    assert(basePlanned(li.groupBy("l_returnflag")
      .agg(sum_distinct(col("l_quantity").cast("decimal(18,2)")).as("s"))))
    // min over a column with no registered MIN (only extendedprice has one)
    assert(basePlanned(li.groupBy("l_returnflag").agg(min("l_quantity").as("m"))))
    // the GLOBAL aggregate (no GROUP BY) routes too - empty grouping set
    // is trivially a dims subset
    def globalAgg() = li.agg(
      sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("s"),
      count(lit(1)).as("n"))
    assert(!scansBase(globalAgg()), "global aggregate should route to the summary")
    val globalGot = globalAgg().collect().map(_.toSeq).toSeq
    SummaryCatalog.clear(spark)
    assert(globalGot == globalAgg().collect().map(_.toSeq).toSeq,
      "global aggregate diverged from the direct computation")
  }

  test("ivm-maintained summary serves the rewrite after an incremental update") {
    import graft.plans.SummaryCatalog
    val dir = sf
    val cut = lit("1999-01-01").cast("timestamp")
    val o = graft.core.Tables.orders(spark, dir).select(col("o_custkey"),
      col("o_totalprice").cast("decimal(18,2)").as("price"), col("o_orderdate"))
    // the view as materialized BEFORE the batch: pre-cut orders only
    val view0 = o.where(col("o_orderdate") < cut).groupBy("o_custkey")
      .agg(count(lit(1)).as("cnt"), sum("price").cast("decimal(38,2)").as("total"))
    // the batch: post-cut orders arrive as +1 inserts
    val delta = o.where(col("o_orderdate") >= cut).groupBy("o_custkey")
      .agg(count(lit(1)).as("cnt"), sum("price").cast("decimal(38,2)").as("total"))
    val maintained = graft.core.SharedFrames.register(
      graft.ops.Merge.ivmMerge(view0, delta, "o_custkey"))
    // register the MAINTAINED frame (== rollup of the full table) as the
    // summary for the orders base relation
    SummaryCatalog.clear(spark)
    SummaryCatalog.register(spark, s"$dir/orders.parquet",
      dims = Set("o_custkey"),
      measures = Map(("o_totalprice", "decimal(18,2)") -> "total"),
      countCol = "cnt", summary = maintained)
    val user = graft.core.Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("spend"),
        count(lit(1)).as("n"))
      .orderBy("o_custkey")
    def scansOrders(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves().exists {
        case org.apache.spark.sql.execution.datasources.LogicalRelation(
            fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
            _, _, _, _) =>
          fs.location.rootPaths.exists(_.toString.contains("orders"))
        case _ => false
      }
    assert(!scansOrders(user), "the maintained summary should answer the query")
    val got = user.collect().map(_.toSeq).toSeq
    SummaryCatalog.clear(spark)
    val direct = graft.core.Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("spend"),
        count(lit(1)).as("n"))
      .orderBy("o_custkey")
    assert(scansOrders(direct))
    assert(got == direct.collect().map(_.toSeq).toSeq,
      "incrementally-maintained summary diverged from the direct aggregation")
  }

  test("summary rewrite answers ROLLUP / CUBE / grouping_id from the rollup") {
    import graft.plans.SummaryCatalog
    val dir = sf
    // registration piggybacks on the oracle query's catalog entry
    SparkEntry.queries("q_summary_rewrite")(spark, dir)
    def scansBase(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves().exists {
        case org.apache.spark.sql.execution.datasources.LogicalRelation(
            fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
            _, _, _, _) =>
          fs.location.rootPaths.exists(_.toString.contains("lineitem"))
        case _ => false
      }
    val li = graft.core.Tables.lineitem(spark, dir)
    def rollupQ() = li.rollup("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("s"),
        count(lit(1)).as("n"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
    def cubeQ() = li.cube("l_returnflag", "l_linestatus")
      .agg(max(col("l_extendedprice")).as("mx"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
    assert(!scansBase(rollupQ()),
      s"rollup kept the base scan:\n${rollupQ().queryExecution.optimizedPlan.toString.take(1500)}")
    assert(!scansBase(cubeQ()), "cube kept the base scan")
    val gotRollup = rollupQ().collect().map(_.toSeq).toSeq
    val gotCube = cubeQ().collect().map(_.toSeq).toSeq
    // an underivable aggregate disqualifies the WHOLE rollup
    assert(scansBase(li.rollup("l_returnflag")
      .agg(avg("l_quantity").as("a"))), "avg rollup must keep the base scan")
    SummaryCatalog.clear(spark)
    assert(scansBase(rollupQ()))
    assert(gotRollup == rollupQ().collect().map(_.toSeq).toSeq,
      "rollup diverged from the direct computation")
    assert(gotCube == cubeQ().collect().map(_.toSeq).toSeq,
      "cube diverged from the direct computation")
  }

  test("summary rewrite derives AVG / COUNT(col) / arithmetic over aggregates") {
    import graft.plans.SummaryCatalog
    val dir = sf
    def scansBase(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves().exists {
        case org.apache.spark.sql.execution.datasources.LogicalRelation(
            fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
            _, _, _, _) =>
          fs.location.rootPaths.exists(_.toString.contains("lineitem"))
        case _ => false
      }
    // the q_summary_avg SHAPE, built inline so it can run unregistered
    // (the SparkEntry fn registers the summary as a side effect)
    def userQuery() = graft.core.Tables.lineitem(spark, dir)
      .groupBy("l_linestatus")
      .agg(
        avg(col("l_quantity").cast("decimal(18,2)")).cast("double").as("avg_qty"),
        (sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("avg_price_star"),
        count(col("l_extendedprice")).as("n_price"),
        countDistinct(col("l_returnflag")).as("n_flags"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_linestatus")
    // direct values FIRST, with no registration in the catalog
    SummaryCatalog.clear(spark)
    val direct = userQuery()
    assert(scansBase(direct), "unregistered avg query should scan the base")
    val directRows = direct.collect().map(_.toSeq).toSeq
    // the oracle query fn registers, and every aggregate — native
    // avg(decimal), SUM/COUNT(*) division, COUNT(measure) — derives
    val routed = SparkEntry.queries("q_summary_avg")(spark, dir)
    assert(!scansBase(routed),
      s"avg/count(col) did not route to the summary:\n" +
        routed.queryExecution.optimizedPlan.toString.take(1500))
    assert(routed.collect().map(_.toSeq).toSeq == directRows,
      "summary-derived avg/count diverged from the direct aggregation")
    // avg over a measure with no registered count column must keep the
    // base scan (l_discount has neither sum nor count registered)
    val li = graft.core.Tables.lineitem(spark, dir)
    assert(scansBase(li.groupBy("l_returnflag")
      .agg(avg(col("l_discount").cast("decimal(18,2)")).as("a"))))
    // avg over a NON-decimal measure shape declines even when a count
    // exists: double sums are order-dependent, no bit-equality promise
    assert(scansBase(li.groupBy("l_returnflag")
      .agg(avg(col("l_quantity")).as("a"))))
    // non-deterministic structure around a derivable aggregate declines
    assert(scansBase(li.groupBy("l_returnflag")
      .agg((sum(col("l_quantity").cast("decimal(18,2)")).cast("double") *
        rand(7)).as("s"))))
    // COUNT(DISTINCT non-dim) cannot be answered from the summary —
    // only dim distinct-counts re-target (multiplicity-free over the
    // summary's exact distinct dim combinations)
    assert(scansBase(li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_quantity")).as("n"))))
    SummaryCatalog.clear(spark)
  }

  test("summary rewrite: multi-root-path scans and empty-group counts stay correct") {
    import graft.plans.SummaryCatalog
    val dir = sf
    // register via the oracle query's shared registration
    SparkEntry.queries("q_summary_rewrite")(spark, dir)
    val base = s"$dir/lineitem.parquet"
    // parquet(base, base) doubles every row: a rewrite onto the summary
    // would silently halve the counts, so the rule must decline any
    // relation whose root-path list is not EXACTLY the registered path
    val doubled = spark.read.parquet(base, base)
      .groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("s"),
        count(lit(1)).as("n"))
    val leaves = doubled.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.exists {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
          _, _, _, _) => fs.location.rootPaths.length == 2
      case _ => false
    }, "two-root-path scan must survive the rewrite untouched")
    val single = graft.core.Tables.lineitem(spark, dir)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = doubled.select(col("l_returnflag"), col("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == single.map { case (k, v) => k -> v * 2 },
      "multi-path read must see every path's rows exactly once")
    // a dims-only filter excluding EVERY group: the routed global
    // aggregate must answer count 0 (sum NULL), not a NULL count —
    // this is the COALESCE(SUM(n_rows), 0) seam
    val li = graft.core.Tables.lineitem(spark, dir)
    def emptyAgg() = li.where(col("l_returnflag") === "ZZ")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("s"),
        count(lit(1)).as("n"))
    def scansBase(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves().exists {
        case org.apache.spark.sql.execution.datasources.LogicalRelation(
            fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
            _, _, _, _) =>
          fs.location.rootPaths.exists(_.toString.contains("lineitem"))
        case _ => false
      }
    assert(!scansBase(emptyAgg()), "dims-only filter should still route")
    val gotEmpty = emptyAgg().collect().map(_.toSeq).toSeq
    SummaryCatalog.clear(spark)
    assert(gotEmpty == emptyAgg().collect().map(_.toSeq).toSeq,
      "empty-group global aggregate diverged from the direct computation " +
        s"(got $gotEmpty)")
    assert(gotEmpty.head(1) == 0L, "COUNT(*) over zero groups must be 0")
  }

  test("q_summary_ivm_e2e: the updated-base scan is replaced by the maintained view") {
    import graft.plans.SummaryCatalog
    val df = SparkEntry.queries("q_summary_ivm_e2e")(spark, sf)
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
      "the maintained (persisted) view should be the aggregate's source")
    assert(!leaves.exists {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
          _, _, _, _) =>
        fs.location.rootPaths.exists(_.toString.contains("graft_ivm_e2e"))
      case _ => false
    }, "the updated-base tmp parquet must not be scanned")
    assert(df.count() > 0)
    SummaryCatalog.clear(spark)
  }

  test("summary catalog refuses MIN/MAX columns under a retraction contract") {
    import graft.plans.SummaryCatalog
    val dir = sf
    val summary = graft.core.Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("t"),
        min(col("o_totalprice")).as("mn"))
    val e = intercept[IllegalArgumentException] {
      SummaryCatalog.register(spark, s"$dir/orders.parquet",
        dims = Set("o_orderpriority"),
        measures = Map(("o_totalprice", "decimal(18,2)") -> "t"),
        countCol = "n_rows", summary = summary,
        mins = Map(("o_totalprice", "") -> "mn"),
        insertOnly = false)
    }
    assert(e.getMessage.contains("insertOnly"))
    SummaryCatalog.clear(spark)
  }
}
