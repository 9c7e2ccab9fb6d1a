package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Text analysis + extraction over `documents` (SURVEY.md §2.9 T1-T6 and
  * the training-data text operators): token stats, quality scoring,
  * n-gram language ID, context-window match scoring, regex status
  * classification, and the notes-extraction suite.
  */
object TextQueries extends QueryGroup {

  /** Token counting: whitespace tokens, BPE-ish subword pieces (letter
    * runs / digit runs / single punctuation, the GPT-style pre-tokenizer
    * shape), distinct tokens, char density. */
  private def tokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", regexp_extract_all(col("text"), lit("""\S+"""), lit(0)))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(regexp_extract_all(col("text"),
          lit("""[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"""), lit(0))).as("n_bpe_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        length(regexp_replace(col("text"), """\s+""", "")).as("chars_nospace"))
      .withColumn("avg_token_len",
        when(col("n_tokens") === 0, lit(null))
          .otherwise(col("chars_nospace").cast("double") / col("n_tokens")))
      .orderBy("doc_id")

  /** Quality scoring: length/stopword/token-shape heuristics combined with
    * dyadic weights (cross-engine exact). */
  /** Documents with the heuristic quality columns attached (one scan, pure
    * projection) — `quality` selects from this; `SamplingQueries.sourceCap`
    * reuses it with the `source` column for per-source capping. */
  private[queries] def qualityScoredDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("n_tokens",
        size(regexp_extract_all(col("text"), lit("""\S+"""), lit(0))))
      .withColumn("stop_hits",
        size(regexp_extract_all(col("text"), lit("""\b(the|a|and|of|to)\b"""), lit(0))))
      .withColumn("chars_nospace",
        length(regexp_replace(col("text"), """\s+""", "")))
      .withColumn("stop_ratio",
        when(col("n_tokens") === 0, lit(null))
          .otherwise(col("stop_hits").cast("double") / col("n_tokens")))
      .withColumn("avg_token_len",
        when(col("n_tokens") === 0, lit(null))
          .otherwise(col("chars_nospace").cast("double") / col("n_tokens")))
      .withColumn("quality_score",
        lit(0.5) * least(lit(1.0), col("n_tokens").cast("double") / 100d) +
          lit(0.25) * (lit(1.0) - col("stop_ratio")) +
          lit(0.25) * least(lit(1.0), col("avg_token_len") / 8d))

  private def quality(s: SparkSession, dir: String): DataFrame =
    qualityScoredDocs(s, dir)
      .select("doc_id", "n_tokens", "stop_hits", "stop_ratio",
        "avg_token_len", "quality_score")
      .orderBy("doc_id")

  /** N-gram-heuristic language ID: stopword-hit votes per language with a
    * deterministic argmax; compared against the labeled `lang`. */
  private def langId(s: SparkSession, dir: String): DataFrame = {
    val pats = Seq(
      "en" -> """\b(the|a|and|is|of|to)\b""",
      "de" -> """\b(der|die|das|und|ist)\b""",
      "fr" -> """\b(le|la|les|et|est)\b""",
      "es" -> """\b(el|los|las|es|y)\b""")
    val base = pats.foldLeft(Tables.documents(s, dir)) { case (df, (l, p)) =>
      df.withColumn(s"${l}_hits", size(regexp_extract_all(col("text"), lit(p), lit(0))))
    }
    base
      .withColumn("predicted_lang",
        when(col("en_hits") >= greatest(col("de_hits"), col("fr_hits"), col("es_hits")), "en")
          .when(col("de_hits") >= greatest(col("fr_hits"), col("es_hits")), "de")
          .when(col("fr_hits") >= col("es_hits"), "fr")
          .otherwise("es"))
      .withColumn("is_match", col("predicted_lang") === col("lang"))
      .select("doc_id", "lang", "en_hits", "de_hits", "fr_hits", "es_hits",
        "predicted_lang", "is_match")
      .orderBy("doc_id")
  }

  /** T2: context-window match scoring — locate the keyword, take a +-40
    * char window, score by good/bad keyword hits inside it (re-expressing
    * `score_match`, `chat_acreage_bot.py:434-479`, without a UDF). */
  private def contextScore(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), instr(col("text"), "spark").as("p"))
      .withColumn("win", expr("substring(text, greatest(p - 40, 1), 80)"))
      .withColumn("good", size(regexp_extract_all(col("win"), lit("fast|quick"), lit(0))))
      .withColumn("bad", size(regexp_extract_all(col("win"), lit("slow|error"), lit(0))))
      .select(col("doc_id"), col("good"), col("bad"),
        when(col("p") === 0, lit(null))
          .otherwise(lit(2.0) + lit(0.5) * col("good") - lit(0.75) * col("bad"))
          .as("context_score"))
      .orderBy("doc_id")

  /** T3/T5/T6: regex status/keyword classification distribution. */
  private def statusClassify(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("label",
        when(col("text").rlike("error|fail"), "ERROR")
          .when(col("text").rlike("slow"), "SLOW")
          .when(col("text").rlike("fast"), "FAST")
          .otherwise("NEUTRAL"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"))
      .orderBy("label")

  /** T4: notes-extraction suite — regex pieces assembled into a bounded,
    * pipe-joined notes column (`NotesExtractor`, `chat_acreage_bot.py:97-378`). */
  private def notesExtract(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("first_word", regexp_extract(col("text"), """^(\S+)""", 1))
      .withColumn("kw", expr("nullif(regexp_extract(text, '(table|window|stream)', 1), '')"))
      .withColumn("mentions_spark",
        when(instr(col("text"), "spark") > 0, lit("mentions spark")))
      .withColumn("notes",
        substring(concat_ws(" | ", col("kw"), col("mentions_spark"), col("first_word")),
          1, 120))
      .select("doc_id", "first_word", "kw", "notes")
      .orderBy("doc_id")

  /** T1: multi-match regex extraction — one row per match via the explode
    * generator (`regexp_extract_all` + `explode` is the built-in UDTF
    * surface, SURVEY.md §2.11), with a bounds filter like the acreage
    * extractor's 0.1-50,000 guard. */
  private def regexExtract(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit("[a-z]{6,}"), lit(0))).as("word"))
      .filter(length(col("word")) <= 12)
      .groupBy("word")
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("word")

  /** S7: JSON-embedded export projection — the row payload the standalone
    * map sink embeds (`master_standalone.py:143-197`); int/string fields
    * only (double JSON formatting differs across engines). */
  private def jsonExport(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        to_json(struct(col("c_custkey"), col("c_name"), col("c_mktsegment")))
          .as("payload"))
      .orderBy("c_custkey")

  /** Repetition detection (the Gopher-style repeated-n-gram quality cut):
    * fraction of a doc's word 3-grams that are repeats of an earlier
    * 3-gram in the SAME doc. Computed as one narrow projection (shingle
    * array built and deduped inside the row — no explode, no shuffle), so
    * at 100 TB it rides the scan. */
  private def repetition(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("words", split(trim(col("text")), "\\s+"))
      .withColumn("grams",
        when(size(col("words")) >= 3,
          transform(sequence(lit(1), size(col("words")) - 2), i =>
            concat_ws(" ", element_at(col("words"), i),
              element_at(col("words"), i + 1), element_at(col("words"), i + 2))))
          .otherwise(array().cast("array<string>")))
      .select(
        col("doc_id"),
        size(col("grams")).as("n_grams"),
        size(array_distinct(col("grams"))).as("n_distinct"))
      .withColumn("rep_ratio",
        when(col("n_grams") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_grams")))
      .withColumn("repetitive",
        when(col("n_grams") > 0, col("rep_ratio") > 0.2))
      .orderBy("doc_id")

  /** The full Gopher repetition bundle (Rae et al. 2021, Table A1) next
    * to [[repetition]]'s single repeated-3-gram cut: per doc, the
    * fraction of characters covered by the single most frequent n-gram
    * for n = 2..4, and by ALL duplicated n-grams for n = 5..6, each
    * gated at the paper's thresholds (0.20/0.18/0.16 and 0.15/0.14).
    * "Covered chars" uses the standard count·len(gram) estimate (the
    * published reimplementation convention — exact position marking
    * needs per-char state the filter doesn't justify).
    *
    * EXACTNESS: the keep gates compare 100·count·len against
    * threshold·total_chars — pure integers, so no boundary ever sits on
    * a float (the displayed fractions are rounded doubles, the
    * DECISIONS are exact). Argmax per (doc, n) is min(struct(−cnt,
    * gram)): largest count, lexicographically-smallest gram tiebreak.
    *
    * Shape at scale: one flattened n-gram explode (5 gram lengths in a
    * single Generate), one (doc, n, gram) count with map-side combine,
    * one (doc, n) argmax/sum aggregation, one doc-row pivot — all
    * doc-keyed aggregations, no windows, no joins. Products are
    * doc-length-bounded (≤ len²·100), never corpus counts. */
  private def gopherRepetition(s: SparkSession, dir: String): DataFrame =
    gopherRepetitionFlags(s, dir).orderBy("doc_id")

  /** Session-shared: the 5-length n-gram explode + two aggregations are
    * the most expensive curation subtree, and both the standalone gate
    * and the composed funnel read it. */
  private def gopherRepetitionFlags(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.cached(s, s"gopherrep:$dir") {
      gopherRepetitionBuild(s, dir)
    }

  /** Per-(doc, n) repetition statistics computed IN-ROW: sort the doc's
    * n-grams, fold once over the sorted array grouping equal-gram runs,
    * and keep (a) the best run by (count desc, gram asc) — the same
    * argmax `min(struct(-cnt, gram))` the grouped form used — and (b)
    * the total covered chars of runs with count > 1. Returns
    * struct(topc, dup) with covered = cnt·length(gram), 0s for a doc
    * shorter than n. The previous form exploded all five gram lengths
    * (~5 rows per token) through TWO string-keyed hash aggregations;
    * per-doc state is doc-length-bounded, so the whole bundle now rides
    * the scan with no exchange at all — the shape claimed by the
    * scaladoc's 100 TB envelope, and the most expensive shared-frame
    * build in the bench before the rewrite. */
  private[graft] def repRunStats(n: Int): org.apache.spark.sql.Column = expr(
    s"""aggregate(
       |  array_sort(CASE WHEN size(words) >= $n THEN
       |    transform(sequence(1, size(words) - $n + 1),
       |      i -> concat_ws(' ', slice(words, i, $n)))
       |    ELSE CAST(array() AS array<string>) END),
       |  named_struct('prev', CAST(NULL AS STRING), 'cnt', CAST(0 AS BIGINT),
       |    'bestc', CAST(0 AS BIGINT), 'bestcov', CAST(0 AS BIGINT),
       |    'dup', CAST(0 AS BIGINT)),
       |  (st, g) -> IF(st.prev IS NOT NULL AND g = st.prev,
       |    named_struct('prev', st.prev, 'cnt', st.cnt + CAST(1 AS BIGINT),
       |      'bestc', st.bestc, 'bestcov', st.bestcov, 'dup', st.dup),
       |    named_struct('prev', g, 'cnt', CAST(1 AS BIGINT),
       |      'bestc', IF(st.cnt > st.bestc, st.cnt, st.bestc),
       |      'bestcov', IF(st.cnt > st.bestc,
       |        st.cnt * CAST(length(st.prev) AS BIGINT), st.bestcov),
       |      'dup', st.dup + IF(st.cnt > 1,
       |        st.cnt * CAST(length(st.prev) AS BIGINT), CAST(0 AS BIGINT)))),
       |  st -> named_struct(
       |    'topc', IF(st.cnt > st.bestc,
       |      st.cnt * CAST(length(st.prev) AS BIGINT), st.bestcov),
       |    'dup', st.dup + IF(st.cnt > 1,
       |      st.cnt * CAST(length(st.prev) AS BIGINT), CAST(0 AS BIGINT))))"""
      .stripMargin)

  /** Exposed for the same-process A/B timing tool only. */
  private[graft] def gopherBuildForAb(s: SparkSession, dir: String): DataFrame =
    gopherRepetitionBuild(s, dir)

  private def gopherRepetitionBuild(s: SparkSession, dir: String): DataFrame = {
    // One native pass for all five n-gram lengths (GopherRepExpr) instead
    // of five interpreted transform+sort+aggregate folds; GopherRepSpec
    // pins bit-equality to the retained repRunStats fold.
    Tables.documents(s, dir)
      .withColumn("words", split(trim(col("text")), "\\s+"))
      .withColumn("total_chars", length(trim(col("text"))).cast("long"))
      .withColumn("rep", graft.functions.GopherRep.gopherRep(col("words")))
      .select(col("doc_id"), col("total_chars"),
        col("rep.top2").as("top2"), col("rep.top3").as("top3"),
        col("rep.top4").as("top4"), col("rep.dup5").as("dup5"),
        col("rep.dup6").as("dup6"))
      .select(col("doc_id"),
        round(least(col("top2").cast("double") / col("total_chars"), lit(1.0)), 6).as("top2_frac"),
        round(least(col("top3").cast("double") / col("total_chars"), lit(1.0)), 6).as("top3_frac"),
        round(least(col("top4").cast("double") / col("total_chars"), lit(1.0)), 6).as("top4_frac"),
        round(least(col("dup5").cast("double") / col("total_chars"), lit(1.0)), 6).as("dup5_frac"),
        round(least(col("dup6").cast("double") / col("total_chars"), lit(1.0)), 6).as("dup6_frac"),
        (col("top2") * 100 <= col("total_chars") * 20 &&
          col("top3") * 100 <= col("total_chars") * 18 &&
          col("top4") * 100 <= col("total_chars") * 16 &&
          col("dup5") * 100 <= col("total_chars") * 15 &&
          col("dup6") * 100 <= col("total_chars") * 14).as("gopher_keep"))
  }

  /** Deterministic multi-line page fixture for the line-level curation
    * rules (`documents.text` has no
    * newlines or punctuation, so the page structure those rules act on
    * is REBUILT identically in Spark and in the oracle SQL from the
    * row's own words). Each doc's words chunk into 7-word lines; line i
    * gets a bullet prefix when (doc_id+3i)%7=0, the stop words
    * ` and that with` when (doc_id+i)%9=0 (the synthetic vocabulary has
    * only "the" from Gopher's reference list — without this the stop
    * gate never fires), a ` javascript` token when (doc_id+i)%13=0,
    * ` lorem ipsum` / ` {` on line 1 for
    * doc_id%17=0 / %19=0, and a terminator cycling through
    * {none, ., !, ?, ., ...} by (doc_id+i)%6 — so every C4/Gopher gate
    * sees both passing and failing lines. Escape-free SQL on purpose
    * (Spark and DuckDB disagree about backslashes in string literals). */
  private val pageLinesExpr =
    """transform(sequence(1, CAST((size(words) + 6) div 7 AS INT)), i -> concat(
      |  CASE WHEN (doc_id + 3*i) % 7 = 0 THEN '- ' ELSE '' END,
      |  concat_ws(' ', slice(words, (i-1)*7 + 1, 7)),
      |  CASE WHEN (doc_id + i) % 9 = 0 THEN ' and that with' ELSE '' END,
      |  CASE WHEN (doc_id + i) % 13 = 0 THEN ' javascript' ELSE '' END,
      |  CASE WHEN i = 1 AND doc_id % 17 = 0 THEN ' lorem ipsum' ELSE '' END,
      |  CASE WHEN i = 1 AND doc_id % 19 = 0 THEN ' {' ELSE '' END,
      |  element_at(array('', '.', '!', '?', '.', '...'),
      |    CAST((doc_id + i) % 6 AS INT) + 1)))""".stripMargin

  /** (doc_id, lang, lines, page) — the fixture page per document. */
  private[queries] def curationPages(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("words", split(trim(col("text")), "\\s+"))
      .withColumn("lines", expr(pageLinesExpr))
      .withColumn("page", array_join(col("lines"), "\n"))
      .select("doc_id", "lang", "lines", "page")

  /** The C4 cleaning rules (Raffel et al. 2020 §2.2) over the fixture
    * page: keep only lines ending in terminal punctuation, with >= 5
    * words, and without the word "javascript"; drop any page containing
    * "lorem ipsum" or a curly brace, or whose cleaned text has fewer
    * than 3 sentences (sentence count = terminal-punctuation marks in
    * the KEPT lines — the published-reimplementation convention, so a
    * `...` terminator counts 3). The cleaned text is reassembled from
    * the surviving lines, newline-joined.
    *
    * Shape at scale: pure projection — the line filter, sentence count,
    * and reassembly all run in-row on the line array (no explode, no
    * shuffle except the presentation sort); at 100 TB this is
    * scan-bound. */
  private def c4Filters(s: SparkSession, dir: String): DataFrame =
    c4Flags(s, dir).orderBy("doc_id")

  private def c4Flags(s: SparkSession, dir: String): DataFrame =
    curationPages(s, dir)
      .withColumn("kept", filter(col("lines"), l =>
        substring(l, -1, 1).isin(".", "!", "?", "\"") &&
          (size(regexp_extract_all(l, lit("""\S+"""), lit(0))) >= 5) &&
          !l.contains("javascript")))
      .withColumn("clean_text", array_join(col("kept"), "\n"))
      .withColumn("n_sentences",
        size(regexp_extract_all(col("clean_text"), lit("""[.!?]"""), lit(0))))
      .withColumn("has_lorem", col("page").contains("lorem ipsum"))
      .withColumn("has_brace", col("page").contains("{"))
      .select(col("doc_id"),
        size(col("lines")).as("n_lines"),
        size(col("kept")).as("n_kept"),
        col("n_sentences"), col("has_lorem"), col("has_brace"),
        (!col("has_lorem") && !col("has_brace") && col("n_sentences") >= 3)
          .as("page_keep"),
        col("clean_text"))

  /** Character-class composition per language — the script-mix monitor a
    * multilingual corpus runs next to langid (a "French" shard that is
    * 40% digits is a parser bug, not French): per doc, exact counts of
    * alphabetic / digit / whitespace / other characters via
    * regexp-strip length differences, rolled up per language as
    * exact-ppm fractions of the language's total characters (1e6·class
    * div total — corpus counts divide once, no float averaging of
    * per-doc ratios). Pure projection + one |langs|-bounded aggregation;
    * scan-bound at 100 TB. */
  private def scriptMix(s: SparkSession, dir: String): DataFrame = {
    def stripped(re: String) =
      length(col("text")) - length(regexp_replace(col("text"), re, ""))
    Tables.documents(s, dir)
      .select(col("lang"),
        length(col("text")).cast("long").as("n_chars"),
        stripped("[a-zA-Z]").cast("long").as("n_alpha"),
        stripped("[0-9]").cast("long").as("n_digit"),
        stripped("\\s").cast("long").as("n_space"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("chars"),
        sum("n_alpha").as("alpha"),
        sum("n_digit").as("digit"),
        sum("n_space").as("space"))
      .select(col("lang"), col("n_docs"),
        col("chars"),
        // decimal-first: alpha/digit/space are corpus character counts
        // (~1e14 at 100 TB), so the 1e6-scaled numerator crosses 2^63
        expr("(1000000 * CAST(alpha AS DECIMAL(38,0))) div chars")
          .as("ppm_alpha"),
        expr("(1000000 * CAST(digit AS DECIMAL(38,0))) div chars")
          .as("ppm_digit"),
        expr("(1000000 * CAST(space AS DECIMAL(38,0))) div chars")
          .as("ppm_space"),
        expr("(1000000 * CAST(chars - alpha - digit - space AS DECIMAL(38,0)))" +
          " div chars").as("ppm_other"))
      .orderBy("lang")
  }

  /** Flesch–Kincaid readability per document, integer-exact: words =
    * whitespace tokens, sentences = terminal-punctuation runs (floored
    * at 1), syllables = vowel-group runs (the standard regex
    * approximation). The grade is kept in CENTI-units with floor
    * division — grade_centi = 39·W div S + 1180·Y div W − 1559 — so the
    * easy/medium/hard classification never sits on a float boundary.
    * Pure projection; scan-bound at 100 TB. */
  private def readability(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("""\S+"""), lit(0)))
          .cast("long").as("n_words"),
        greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))),
          lit(1)).cast("long").as("n_sentences"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
          .cast("long").as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("grade_centi",
        expr("(39 * n_words) div n_sentences" +
          " + (1180 * n_syllables) div n_words - 1559"))
      .withColumn("band",
        when(col("grade_centi") < 700, "easy")
          .when(col("grade_centi") < 1100, "medium")
          .otherwise("hard"))
      .orderBy("doc_id")

  /** Blocklist screening — the C4 "bad words" filter class (Raffel et
    * al. 2020 filter docs against a fixed phrase blocklist; here the
    * list is DERIVED from the corpus so the fixture is self-contained:
    * the top-8 most frequent word bigrams stand in for the banned
    * phrases). Matching is ONE Aho–Corasick automaton pass per document
    * ([[graft.functions.MultiMatch]]): O(len + matches) regardless of
    * blocklist size, where a replace/rlike-per-pattern plan rescans the
    * corpus once per phrase — the structural win that matters at a
    * production blocklist (10k+ phrases) over 100 TB.
    *
    * Counting is greedy non-overlapping per pattern — exactly DuckDB's
    * `(length(t) − length(replace(t, p, ''))) / length(p)`, so the
    * oracle needs no automaton. A doc is `blocked` when its total hits
    * across the blocklist reach 4.
    *
    * Shape at scale: one corpus bigram explode + vocab-bounded count to
    * derive the list; an audited BOUNDED collect of exactly 8 rows
    * (side-input class, like the IVF centroid seeds); then matching is
    * a pure scan-bound projection — only MATCHED (doc, pattern) rows
    * reach the doc-keyed window that totals per-doc hits. */
  private def blocklistHits(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bigrams = docs
      .withColumn("w", split(trim(col("text")), "\\s+"))
      .filter(size(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("w")) - 1), i =>
        concat(element_at(col("w"), i), lit(" "),
          element_at(col("w"), i + 1)))).as("pattern"))
      .groupBy("pattern").agg(count(lit(1)).as("cnt"))
    // bounded 8-row pull: the blocklist is a driver-side side input to
    // the automaton expression (count desc, pattern asc — total order)
    val pats: Seq[String] = bigrams
      .orderBy(col("cnt").desc, col("pattern"))
      .limit(8).collect().map(_.getString(0)).toSeq
    // a corpus with no 2-token document derives no blocklist: the screen
    // finds nothing, which is an EMPTY result, not an automaton error
    if (pats.isEmpty)
      return docs.limit(0).select(col("doc_id"),
        lit("").as("pattern"), lit(0L).as("n_hits"),
        lit(0L).as("doc_hits"), lit(false).as("blocked"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    docs
      .select(col("doc_id"),
        graft.functions.MultiMatch.multiMatchCounts(col("text"), pats)
          .as("cnts"))
      .select(col("doc_id"), posexplode(col("cnts")).as(Seq("pi", "n_hits")))
      .filter(col("n_hits") > 0)
      .withColumn("pattern", element_at(lit(pats.toArray), col("pi") + 1))
      .withColumn("doc_hits", sum("n_hits").over(w))
      .withColumn("blocked", col("doc_hits") >= 4)
      .select("doc_id", "pattern", "n_hits", "doc_hits", "blocked")
      .orderBy("doc_id", "pattern")
  }

  /** The full Gopher quality gate (Rae et al. 2021, Table A1 — the
    * non-repetition half, completing [[gopherRepetition]]): word count
    * in [50, 100k], mean word length in [3, 10], symbol-to-word ratio
    * (# or ellipsis) <= 0.1, <= 90% of lines bullet-started, <= 30% of
    * lines ellipsis-ended, >= 80% of words containing an alphabetic
    * character, and >= 2 of the 8 reference stop words present.
    *
    * EXACTNESS: every gate compares in the INTEGER domain (10·n_sym <=
    * n_words, 10·n_alpha >= 8·n_words, ...) so no keep decision sits on
    * a float boundary; the displayed mean word length is a rounded
    * double, the DECISIONS are exact — the q_gopher_repetition
    * discipline.
    *
    * Shape at scale: pure projection over the line/word arrays (filters
    * and intersects in-row, no explode); scan-bound at 100 TB. */
  private def gopherQuality(s: SparkSession, dir: String): DataFrame =
    gopherQualityFlags(s, dir).orderBy("doc_id")

  private def gopherQualityFlags(s: SparkSession, dir: String): DataFrame = {
    val stops = array(Seq("the", "be", "to", "of", "and", "that", "have",
      "with").map(lit): _*)
    curationPages(s, dir)
      .withColumn("pwords",
        regexp_extract_all(col("page"), lit("""\S+"""), lit(0)))
      .withColumn("n_words", size(col("pwords")).cast("long"))
      .withColumn("n_lines", size(col("lines")).cast("long"))
      .withColumn("chars_nospace",
        length(regexp_replace(col("page"), """\s+""", "")).cast("long"))
      .withColumn("n_sym", size(regexp_extract_all(col("page"),
        lit("""#|\.\.\."""), lit(0))).cast("long"))
      .withColumn("n_bullet",
        size(filter(col("lines"), l => l.startsWith("- "))).cast("long"))
      .withColumn("n_ellipsis",
        size(filter(col("lines"), l => l.endsWith("..."))).cast("long"))
      .withColumn("n_alpha",
        size(filter(col("pwords"), w => w.rlike("[a-zA-Z]"))).cast("long"))
      .withColumn("stop_hits", size(array_intersect(
        array_distinct(regexp_extract_all(lower(col("page")),
          lit("[a-z]+"), lit(0))), stops)).cast("long"))
      .select(col("doc_id"), col("n_words"), col("n_lines"),
        round(col("chars_nospace").cast("double") / col("n_words"), 6)
          .as("mean_word_len"),
        (col("n_words") >= 50 && col("n_words") <= 100000).as("gate_words"),
        (col("chars_nospace") >= col("n_words") * 3 &&
          col("chars_nospace") <= col("n_words") * 10).as("gate_mean_len"),
        (col("n_sym") * 10 <= col("n_words")).as("gate_symbol"),
        (col("n_bullet") * 10 <= col("n_lines") * 9).as("gate_bullet"),
        (col("n_ellipsis") * 10 <= col("n_lines") * 3).as("gate_ellipsis"),
        (col("n_alpha") * 10 >= col("n_words") * 8).as("gate_alpha"),
        (col("stop_hits") >= 2).as("gate_stop"))
      .withColumn("gopher_quality_keep",
        col("gate_words") && col("gate_mean_len") && col("gate_symbol") &&
          col("gate_bullet") && col("gate_ellipsis") && col("gate_alpha") &&
          col("gate_stop"))
  }

  /** The composed curation funnel — the attrition report a pipeline
    * owner reads before shipping a filter stack: every doc through the
    * four round-8 gates IN SEQUENCE (Gopher repetition → Gopher quality
    * → C4 page rules → perplexity-tail drop), one row per stage with
    * the docs passing that gate ALONE (n_pass) and the docs surviving
    * the stack so far (n_survivors). Docs the LM cannot score (no
    * bigrams) fail the perplexity gate — an unscorable doc does not
    * pass a perplexity filter.
    *
    * Shape at scale: the gates are the already-audited pipelines (three
    * projections + the grid rank); the funnel itself is four narrow
    * left joins on doc_id and ONE 9-counter aggregation unpivoted to 5
    * rows. */
  private def curationGate(s: SparkSession, dir: String): DataFrame = {
    val g1 = gopherRepetitionFlags(s, dir)
      .select(col("doc_id"), col("gopher_keep").as("k1"))
    val g2 = gopherQualityFlags(s, dir)
      .select(col("doc_id"), col("gopher_quality_keep").as("k2"))
    val g3 = c4Flags(s, dir).select(col("doc_id"), col("page_keep").as("k3"))
    val g4 = pplBucketFrame(s, dir)
      .select(col("doc_id"), (col("bucket") =!= "tail").as("k4"))
    val j = Tables.documents(s, dir).select("doc_id")
      .join(g1, Seq("doc_id"), "left").join(g2, Seq("doc_id"), "left")
      .join(g3, Seq("doc_id"), "left").join(g4, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("k1"), lit(false)).as("k1"),
        coalesce(col("k2"), lit(false)).as("k2"),
        coalesce(col("k3"), lit(false)).as("k3"),
        coalesce(col("k4"), lit(false)).as("k4"))
    j.agg(
        count(lit(1)).as("n_total"),
        sum(when(col("k1"), 1L).otherwise(0L)).as("p1"),
        sum(when(col("k2"), 1L).otherwise(0L)).as("p2"),
        sum(when(col("k3"), 1L).otherwise(0L)).as("p3"),
        sum(when(col("k4"), 1L).otherwise(0L)).as("p4"),
        sum(when(col("k1") && col("k2"), 1L).otherwise(0L)).as("c2"),
        sum(when(col("k1") && col("k2") && col("k3"), 1L).otherwise(0L)).as("c3"),
        sum(when(col("k1") && col("k2") && col("k3") && col("k4"), 1L)
          .otherwise(0L)).as("c4"))
      .select(expr(
        """stack(5,
          |  '0_total', n_total, n_total,
          |  '1_gopher_repetition', p1, p1,
          |  '2_gopher_quality', p2, c2,
          |  '3_c4_rules', p3, c3,
          |  '4_ppl_tail', p4, c4) AS (stage, n_pass, n_survivors)""".stripMargin))
      .orderBy("stage")
  }

  /** Percentile-threshold quality pruning: the corpus-relative keep rule
    * ("drop the worst 30% by quality score") used when an absolute
    * threshold would over- or under-prune a drifting corpus. The
    * threshold is ONE exact interpolated percentile (same definition as
    * DuckDB quantile_cont — the q_percentiles pairing) computed as a
    * 1-row broadcast aggregate; the keep decision then rides the scan.
    * At 100 TB the threshold would come from approx_percentile over a
    * sample — same plan shape, documented trade. */
  private def qualityPrune(s: SparkSession, dir: String): DataFrame = {
    val scored = quality(s, dir).select("doc_id", "quality_score")
    val thr = scored.agg(expr("percentile(quality_score, 0.3)").as("threshold"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"),
        round(col("quality_score"), 6).as("quality_score"),
        round(col("threshold"), 6).as("threshold"),
        (col("quality_score") >= col("threshold")).as("keep"))
      .orderBy("doc_id")
  }

  /** Word-frequency rarity profile: per-doc mean/min GLOBAL token counts
    * (rare vocabulary ⇒ low mean frequency — the unigram-LM quality
    * signal without floating-point log sums, so the aggregation is exact
    * integer arithmetic and engine-identical regardless of add order).
    * Shape: token explode → one vocab aggregation (small — vocab, not
    * corpus, cardinality) → equi-join back (AQE broadcasts the vocab
    * side) → per-doc integer sums. */
  private def wordRarity(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit("""\S+"""), lit(0))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("tok_count"))
    toks.join(vocab, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum("tok_count").as("sum_freq"),
        min("tok_count").as("min_freq"))
      .withColumn("mean_freq",
        col("sum_freq").cast("double") / col("n_tokens"))
      .select("doc_id", "n_tokens", "sum_freq", "min_freq", "mean_freq")
      .orderBy("doc_id")
  }

  /** Bigram language-model likelihood scoring — the perplexity-filter
    * shape web-corpus quality pipelines use (train n-gram counts on the
    * corpus, score each document by how probable its own bigrams are).
    * Laplace-smoothed: P(w2|w1) = (c(w1,w2)+1) / (c(w1,·)+V).
    *
    * Scored in FIXED POINT, not floating point: each probability becomes
    * the exact integer floor(1e12*(c12+1)/(c1+V)) and the per-doc mean is
    * an exact integer sum over an exact count — order-independent under
    * any partitioning (a cluster sums doubles in nondeterministic order;
    * LM filters usually tolerate that, an oracle hash-gate doesn't).
    * log-free on purpose: mean probability ranks like mean log-prob for
    * thresholding and keeps libm out of the pipeline. Fluency buckets
    * compare the integer sum against integer-scaled thresholds (0.032 /
    * 0.036 mean probability), so bucketing is exact too.
    *
    * Plan shape at scale: one narrow bigram explode (no self-join), two
    * count aggregations over the bigram space (map-side partials absorb
    * the Zipf head), two equi-joins back — c12/c1 are vocab-bounded, so
    * broadcastable on natural-language vocabularies — one scalar V
    * broadcast, one final doc-key aggregation. */
  private def lmScore(s: SparkSession, dir: String): DataFrame =
    lmMass(s, dir)
      .select(col("doc_id"), col("n_bigrams"),
        round(col("ps").cast("double") / col("n_bigrams") / lit(1e12), 6)
          .as("lm_score"),
        when(col("ps") >= lit(36000000000L) * col("n_bigrams"), "high")
          .when(col("ps") >= lit(32000000000L) * col("n_bigrams"), "mid")
          .otherwise("low").as("lm_bucket"))
      .orderBy("doc_id")

  /** Per-doc fixed-point LM probability mass — the shared interior of
    * [[lmScore]] and [[pplBuckets]]: (doc_id, lang, n_bigrams, ps) with
    * ps = Σ floor(1e12·(c12+1)/(c1+V)) over the doc's bigrams. `lang`
    * rides the groupBy key (functionally dependent on doc_id, so the
    * aggregation is unchanged — it just saves a join back for the
    * per-language consumers). Session-cached: the two consumers pay for
    * the bigram pipeline once. */
  private def lmMass(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.cached(s, s"lmmass:$dir") { lmMassBuild(s, dir) }

  private def lmMassBuild(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("w", split(trim(col("text")), "\\s+"))
    val toks = docs.select(col("doc_id"), explode(col("w")).as("tok"))
    val vocab = toks.agg(countDistinct("tok").as("v"))
    val bi = docs.filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("lang"), explode(transform(
        sequence(lit(1), size(col("w")) - 1), i =>
          struct(element_at(col("w"), i).as("w1"),
            element_at(col("w"), i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("lang"),
        col("p.w1").as("w1"), col("p.w2").as("w2"))
      // vacuous filter (split/explode never yields null elements; the
      // inner join below would drop null keys anyway) that EQUALIZES the
      // inferred null constraints across every c12 consumer: the join on
      // (w1, w2) infers `isnotnull(w1) AND isnotnull(w2)` under c12 while
      // the c1 branch infers only `isnotnull(w1)`, and the mismatched
      // Filter nodes make the two c12 subtrees non-identical — so
      // ReuseExchange could never fire and the corpus-scale bigram
      // explode + partial aggregation ran TWICE per LM build. With the
      // constraint already established here, both branches canonicalize
      // to the same subtree and c12's exchange is planned once.
      .filter(col("w1").isNotNull && col("w2").isNotNull)
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
    // c(w1,·) derived from the TYPE frame, not a second corpus-scale
    // aggregation: n1 = Σ_w2 n12 exactly (every bigram occurrence with
    // history w1 is counted once in some n12), so the second shuffle over
    // corpus bigrams collapses to a vocab-bounded re-aggregation of c12 —
    // the knScore discipline (guide §2.3 "aggregate before you shuffle";
    // ReuseExchange shares c12's shuffle between the join and this agg,
    // which the explicit notnull filter above makes actually fire)
    val c1 = c12.groupBy("w1").agg(sum("n12").as("n1"))
    bi.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      // decimal-first: n12 is an unbounded corpus count (~1e12 bigrams at
      // 100 TB), so the 1e12-scaled numerator must widen before the
      // product; `div` floors back to BIGINT. Per-doc sums stay < 1e18
      // (p_scaled <= ~1e12, n_bigrams doc-length-bounded).
      .withColumn("p_scaled",
        expr("(1000000000000L * CAST(n12 + 1 AS DECIMAL(38,0))) div (n1 + v)"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"), sum("p_scaled").as("ps"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): every doc
    * ranked WITHIN ITS LANGUAGE by the fixed-point LM score and split
    * into head / middle / tail terciles — the standard web-corpus triage
    * where "head" (most fluent third per language) trains first and
    * "tail" is dropped or down-weighted. Per-language cutoffs, not
    * global: a global threshold would grade every non-dominant language
    * against the dominant one's fluency distribution.
    *
    * EXACTNESS: the ranking key is the integer floor(ps/n_bigrams)
    * (doc_id tiebreak), so bucket boundaries never sit on a float; the
    * tercile is pure rank arithmetic, bucket = ((rank−1)·3) div n.
    *
    * Shape at scale: the rank is [[graft.ops.OrderStats.valueRankedBy]]'s
    * two-level grid rank — a hot language still spreads over the grid
    * cells, no per-language single-reducer sort (the oracle's
    * row_number() window IS the single-reducer formulation, kept oracle-
    * side only); per-language sizes are a |langs|-row broadcast. */
  private def pplBuckets(s: SparkSession, dir: String): DataFrame =
    pplBucketFrame(s, dir).orderBy("doc_id")

  /** Session-shared: the per-language rank over lm_mass is the expensive
    * interior, and BOTH q_ppl_buckets and the curation funnel's
    * perplexity gate read it — sharing halves the rank passes (one grid
    * rank per session instead of one per consumer). */
  private def pplBucketFrame(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.cached(s, s"pplbuckets:$dir") {
      pplBucketFrameBuild(s, dir)
    }

  private def pplBucketFrameBuild(s: SparkSession, dir: String): DataFrame = {
    val sc = lmMass(s, dir)
      .select(col("doc_id"), col("lang"),
        expr("ps div n_bigrams").as("score"))
    val ranked = graft.ops.OrderStats.valueRankedBy(
      sc, Seq("lang"), "score", "doc_id")
    val sizes = sc.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    ranked.join(broadcast(sizes), Seq("lang"))
      .withColumn("bidx", expr("((val_rank - 1) * 3) div n_lang"))
      .select(col("doc_id"), col("lang"), col("score"),
        col("val_rank").as("ppl_rank"),
        when(col("bidx") === 2, "head")
          .when(col("bidx") === 1, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Interpolated Kneser–Ney bigram scoring — the smoothing the KenLM
    * perplexity filters of CCNet-style curation actually use (Kneser &
    * Ney 1995; Chen & Goodman 1999), next to [[lmScore]]'s Laplace
    * baseline:
    *
    *   P(w2|w1) = (c12 − D)/c1 + D·N1+(w1,·)/c1 · N1+(·,w2)/N1+(·,·)
    *
    * with absolute discount D = 3/4 — a RATIONAL constant on purpose, so
    * the whole probability clears denominators into exact integers:
    *
    *   p_scaled = ⌊1e12 · ((4·c12−3)·T + 3·f1·b2) / (4·c1·T)⌋
    *
    * where f1 = distinct continuations of w1, b2 = distinct histories of
    * w2, T = distinct bigram types. The model is trained on the corpus
    * being scored, so every scored bigram has c12 ≥ 1 and the discounted
    * numerator 4·c12−3 ≥ 1 — the max(·,0) clamp of the general formula
    * is vacuous and omitted. Like [[lmScore]], fixed point end to end:
    * no float enters until the displayed score, so the per-doc sum is
    * order-independent under any partitioning and the bucket compare is
    * exact.
    *
    * Overflow discipline (the `q_copurchase` audit class): c12 and T are
    * unbounded corpus counts (~1e12 bigram types at 100 TB), so both the
    * (4·c12−3)·T product (~4e24) and its 1e12 scaling (~4e36) widen to
    * DECIMAL(38,0)/HUGEINT before multiplying; `div` floors back to a
    * ≤1e12 BIGINT. Plan shape at scale: the same narrow bigram explode
    * as [[lmScore]], then ALL model statistics (c12, the left/right
    * continuation counts, T) aggregate over the bigram-TYPE frame —
    * vocab-bounded, map-side combined — and only the two equi-joins back
    * to the corpus bigrams touch corpus cardinality. */
  private def knScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("w", split(trim(col("text")), "\\s+"))
    val bi = docs.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")) - 1), i =>
          struct(element_at(col("w"), i).as("w1"),
            element_at(col("w"), i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      // vacuous notnull filter, same rationale as lmMassBuild: c12 feeds
      // FOUR branches (the corpus join infers both notnulls, `left` only
      // w1, `right` only w2, `types` none), and without one shared
      // constraint the four c12 subtrees carry four different inferred
      // Filter nodes — four separate corpus-scale explodes. Equalized,
      // they canonicalize identically and c12's exchange plans once.
      .filter(col("w1").isNotNull && col("w2").isNotNull)
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
    // left/right continuation statistics from the TYPE frame, not the
    // corpus: n1 = c(w1,·) recovered as sum(n12), f1 = N1+(w1,·)
    val left = c12.groupBy("w1")
      .agg(sum("n12").as("n1"), count(lit(1)).as("f1"))
    val right = c12.groupBy("w2").agg(count(lit(1)).as("b2"))
    val types = c12.agg(count(lit(1)).as("t"))
    bi.join(c12, Seq("w1", "w2")).join(left, Seq("w1")).join(right, Seq("w2"))
      .crossJoin(broadcast(types))
      .withColumn("p_scaled", expr(
        """(1000000000000L * ((4 * CAST(n12 AS DECIMAL(38,0)) - 3) * t
          |   + 3 * CAST(f1 AS DECIMAL(38,0)) * b2))
          | div (4 * CAST(n1 AS DECIMAL(38,0)) * t)""".stripMargin))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("p_scaled").as("ps"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("ps").cast("double") / col("n_bigrams") / lit(1e12), 6)
          .as("kn_score"),
        when(col("ps") >= lit(36000000000L) * col("n_bigrams"), "high")
          .when(col("ps") >= lit(32000000000L) * col("n_bigrams"), "mid")
          .otherwise("low").as("kn_bucket"))
      .orderBy("doc_id")
  }

  /** Importance-resampling data selection (the DSIR shape — Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"): train one n-gram LM on a small TARGET domain (here
    * the `src0` source, standing in for the curated domain sample) and
    * one on the raw corpus, weight every document by how much more
    * target-like than raw-like its bigrams are, and keep the top
    * quarter. Both LMs are the same Laplace-smoothed fixed-point bigram
    * model as [[lmScore]], sharing one corpus-wide vocabulary V so the
    * two probability spaces are comparable; unseen-in-target bigrams
    * degrade to the 1/(0+V) smoothing floor via left joins.
    *
    * The importance statistic is exact end to end: integer per-bigram
    * probabilities, integer sums st/sr, and the ratio scaled into the
    * integer domain as (st * 1e6) div sr computed in DECIMAL(38,0)
    * (HUGEINT on the oracle side) so the 1e18-range product never
    * overflows. Only the keep threshold (one interpolated percentile, a
    * 1-row broadcast, the q_quality_prune pairing) touches floats.
    *
    * Plan shape at scale: one bigram explode; the RAW count tables are
    * vocab-bounded equi-joins (AQE-broadcastable); the TARGET count
    * tables are small by construction (a domain sample) and broadcast
    * explicitly — so scoring 100 TB is the raw-LM join cost plus two
    * broadcast lookups, never a second corpus pass. */
  private def dsirSelect(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("w", split(trim(col("text")), "\\s+"))
    val vocab = docs.select(explode(col("w")).as("tok"))
      .agg(countDistinct("tok").as("v"))
    val bi = docs.filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("source"), explode(transform(
        sequence(lit(1), size(col("w")) - 1), i =>
          struct(element_at(col("w"), i).as("w1"),
            element_at(col("w"), i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("source"),
        col("p.w1").as("w1"), col("p.w2").as("w2"))
      // vacuous notnull filter equalizing the inferred constraints across
      // the c12r/c1r (and c12t/c1t) branches — see lmMassBuild: without
      // it the raw-LM count tables each replay the corpus bigram explode
      // because their inferred Filter nodes differ and ReuseExchange
      // cannot fire.
      .filter(col("w1").isNotNull && col("w2").isNotNull)
    val tgt = bi.filter(col("source") === "src0")
    val c12t = tgt.groupBy("w1", "w2").agg(count(lit(1)).as("n12t"))
    val c12r = bi.groupBy("w1", "w2").agg(count(lit(1)).as("n12r"))
    // history counts derived from the TYPE frames (n1 = Σ_w2 n12, exact):
    // two corpus/target-scale aggregations collapse to vocab-bounded
    // re-aggregations of c12t/c12r — same lmMassBuild/knScore discipline
    val c1t = c12t.groupBy("w1").agg(sum("n12t").as("n1t"))
    val c1r = c12r.groupBy("w1").agg(sum("n12r").as("n1r"))
    val scored = bi
      .join(c12r, Seq("w1", "w2")).join(c1r, Seq("w1"))
      .join(broadcast(c12t), Seq("w1", "w2"), "left")
      .join(broadcast(c1t), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("n12t", coalesce(col("n12t"), lit(0L)))
      .withColumn("n1t", coalesce(col("n1t"), lit(0L)))
      // decimal-first for the same reason as lmScore's p_scaled: n12r is
      // an unbounded corpus count
      .withColumn("pt",
        expr("(1000000000000L * CAST(n12t + 1 AS DECIMAL(38,0))) div (n1t + v)"))
      .withColumn("pr",
        expr("(1000000000000L * CAST(n12r + 1 AS DECIMAL(38,0))) div (n1r + v)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("pt").as("st"), sum("pr").as("sr"))
      .withColumn("imp_scaled",
        expr("(CAST(st AS DECIMAL(38,0)) * 1000000) div sr"))
    val thr = scored.agg(expr("percentile(imp_scaled, 0.75)").as("threshold"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_bigrams"), col("imp_scaled"),
        round(col("threshold"), 6).as("threshold"),
        (col("imp_scaled") >= col("threshold")).as("keep"))
      .orderBy("doc_id")
  }

  /** Tokenizer-training merge candidates (the distributed core of a BPE
    * step): count ADJACENT token pairs across the corpus and rank the
    * top 20 with a deterministic tiebreak. Shape at scale: one narrow
    * bigram explode (array transform, no self-join), one pair-count
    * shuffle with map-side partial aggregation absorbing the Zipf head,
    * and a TakeOrdered top-k — no global sort of the pair space. */
  private def bpePairs(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .withColumn("w", split(trim(col("text")), "\\s+"))
      .filter(size(col("w")) >= 2)
    toks.select(explode(transform(sequence(lit(1), size(col("w")) - 1), i =>
        concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1))))
        .as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)
  }

  /** Collocation mining (the word2phrase step tokenizer pipelines run to
    * promote "new york" into one token): adjacent-pair LIFT =
    * N·c(a,b) / (c(a)·c(b)) with minimum support, top 20 by (lift desc,
    * pair) — lift, not PMI, because PMI's log adds nothing to the
    * RANKING (log is monotone) and would drag order-dependent float sums
    * into the gate; every term here is an exact integer and the one
    * division is deterministic IEEE. Shape: one bigram explode, two
    * vocab-bounded count aggregations, equi-joins back, TakeOrdered. */
  private val CollocMinSupport = 5
  private def collocations(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("w", split(trim(col("text")), "\\s+"))
    val toks = docs.select(explode(col("w")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val bi = docs.filter(size(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("w")) - 1), i =>
        struct(element_at(col("w"), i).as("w1"),
          element_at(col("w"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      // vacuous notnull filter equalizing inferred constraints across the
      // c12 consumers (see lmMassBuild) so the type-frame subtrees
      // canonicalize identically and the bigram exchange plans once
      .filter(col("w1").isNotNull && col("w2").isNotNull)
    // N = Σ c12 over the UNFILTERED type frame — exact (every bigram
    // occurrence is counted in exactly one c12), so the corpus-scale
    // global count collapses to a vocab-bounded re-aggregation of c12
    // (the lmMassBuild/knScore discipline): the second corpus bigram
    // explode this query ran is gone
    val c12all = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val nTotal = c12all.agg(sum(col("c12")).as("n_total"))
    c12all
      .filter(col("c12") >= CollocMinSupport)
      .join(toks.select(col("tok").as("w1"), col("c1").as("ca")), Seq("w1"))
      .join(toks.select(col("tok").as("w2"), col("c1").as("cb")), Seq("w2"))
      .crossJoin(broadcast(nTotal))
      // per-FACTOR double casts: each count is exactly representable in a
      // double, while the raw BIGINT products n_total*c12 / ca*cb wrap
      // past 2^63 at corpus scale (~1e12 * 1e12)
      .withColumn("lift",
        round((col("n_total").cast("double") * col("c12").cast("double")) /
          (col("ca").cast("double") * col("cb").cast("double")), 6))
      .select("w1", "w2", "c12", "ca", "cb", "lift")
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** Sliding-window document chunking (context-window preprocessing for
    * training/RAG): fixed 200-char chunks on a 150-char stride (50-char
    * overlap), final partial chunk kept, one chunk minimum per doc.
    * Shape at scale: pure projection + a bounded explode (≤ 1 + len/stride
    * rows per doc) — no shuffle, rides the scan; chunk boundaries are
    * pure functions of the row so the plan is identical at any corpus
    * size. Codepoint-safe: Spark `substring`/`length` and DuckDB
    * `substr`/`length` both index by codepoint. */
  private val ChunkSize = 200
  private val ChunkStride = 150
  private def textChunks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .withColumn("last_k",
        when(col("len") <= ChunkSize, lit(0))
          .otherwise(ceil((col("len") - ChunkSize) / lit(ChunkStride.toDouble)).cast("int")))
      .select(col("doc_id"), col("text"), col("len"),
        explode(sequence(lit(0), col("last_k"))).as("chunk_idx"))
      .withColumn("chunk_start", col("chunk_idx") * ChunkStride + 1)
      .withColumn("chunk_text",
        expr(s"substring(text, chunk_start, $ChunkSize)"))
      .select(col("doc_id"), col("len"), col("chunk_idx"), col("chunk_start"),
        col("chunk_text"), length(col("chunk_text")).as("chunk_len"))
      .orderBy("doc_id", "chunk_idx")

  /** Delimiter-pattern record splitting: one text field holding many
    * concatenated records, split on a regex delimiter and exploded WITH
    * position — sentence segmentation is this exact shape with
    * `[.!?]+\s+` as the delimiter (the synthetic corpus has no
    * punctuation, so the delimiter here is a frequent token; the
    * machinery is identical). No lookbehind — DuckDB's RE2 has none, so
    * the delimiter is CONSUMED and both engines drop it identically,
    * leftmost-first. Part indices are 1-based over ALL split parts with
    * empties filtered after indexing, so indices are stable regardless
    * of empty-part positions. Pure projection + bounded explode. */
  private def textSplitRecords(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), """\s+stream\s+""")).as(Seq("pos", "record")))
      .withColumn("part_idx", (col("pos") + 1).cast("int"))
      .filter(length(col("record")) > 0)
      .select(col("doc_id"), col("part_idx"), col("record"),
        length(col("record")).as("n_chars"))
      .orderBy("doc_id", "part_idx")

  /** The bigram LM mass frame is built once per session and consumed by
    * q_lm_score + q_ppl_buckets — declared so the bench attributes its
    * build time to the shared stage, not to whichever query runs first. */
  override def shared: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq("lm_mass" -> (lmMass(_, _)),
      "gopher_rep_flags" -> (gopherRepetitionFlags(_, _)),
      "ppl_buckets" -> (pplBucketFrame(_, _)))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_split" -> textSplitRecords,
    "q_text_chunks" -> textChunks,
    "q_bpe_pairs" -> bpePairs,
    "q_collocations" -> collocations,
    "q_lm_score" -> lmScore,
    "q_kn_score" -> knScore,
    "q_dsir_select" -> dsirSelect,
    "q_quality_prune" -> qualityPrune,
    "q_word_rarity" -> wordRarity,
    "q_text_repetition" -> repetition,
    "q_gopher_repetition" -> gopherRepetition,
    "q_gopher_quality" -> gopherQuality,
    "q_c4_filters" -> c4Filters,
    "q_blocklist_hits" -> blocklistHits,
    "q_script_mix" -> scriptMix,
    "q_readability" -> readability,
    "q_ppl_buckets" -> pplBuckets,
    "q_curation_gate" -> curationGate,
    "q_regex_extract" -> regexExtract,
    "q_json_export" -> jsonExport,
    "q_text_tokens" -> tokens,
    "q_text_quality" -> quality,
    "q_text_langid" -> langId,
    "q_context_score" -> contextScore,
    "q_status_classify" -> statusClassify,
    "q_notes_extract" -> notesExtract,
  )

  /** DuckDB mirror of [[pageLinesExpr]]/[[curationPages]] — terminal CTE
    * `pp` = (doc_id, lang, lines, page). Kept character-identical to the
    * Spark construction: same chunking, same injection rules, same
    * terminator cycle. */
  private def pageSql: String =
    """w AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS words FROM documents),
      |pg AS (SELECT doc_id, lang,
      |    list_transform(generate_series(1, (len(words) + 6) // 7), i ->
      |      (CASE WHEN (doc_id + 3*i) % 7 = 0 THEN '- ' ELSE '' END) ||
      |      array_to_string(words[(i-1)*7 + 1:(i-1)*7 + 7], ' ') ||
      |      (CASE WHEN (doc_id + i) % 9 = 0 THEN ' and that with' ELSE '' END) ||
      |      (CASE WHEN (doc_id + i) % 13 = 0 THEN ' javascript' ELSE '' END) ||
      |      (CASE WHEN i = 1 AND doc_id % 17 = 0 THEN ' lorem ipsum' ELSE '' END) ||
      |      (CASE WHEN i = 1 AND doc_id % 19 = 0 THEN ' {' ELSE '' END) ||
      |      (['', '.', '!', '?', '.', '...'])[(doc_id + i) % 6 + 1]) AS lines
      |  FROM w),
      |pp AS (SELECT doc_id, lang, lines, array_to_string(lines, chr(10)) AS page FROM pg)""".stripMargin

  override def oracle: Map[String, String] = Map(
    // fixed-point LM scoring: integer // keeps every term exact, the HUGEINT
    // sum mirrors Spark's long sum, and bucketing compares integer-scaled
    // thresholds -- no float enters until the displayed score
    "q_lm_score" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents),
        |tok AS (SELECT doc_id, unnest(words) AS tok FROM w),
        |vocab AS (SELECT count(DISTINCT tok) AS v FROM tok),
        |bi AS (SELECT doc_id, words[i] AS w1, words[i+1] AS w2
        |       FROM (SELECT doc_id, words, unnest(generate_series(1, len(words) - 1)) AS i FROM w)),
        |c12 AS (SELECT w1, w2, count(*) AS n12 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS n1 FROM bi GROUP BY 1),
        |terms AS (SELECT bi.doc_id,
        |    CAST((1000000000000 * CAST(n12 + 1 AS HUGEINT))
        |      // (n1 + (SELECT v FROM vocab)) AS BIGINT) AS p_scaled
        |  FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1)),
        |agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(p_scaled) AS ps FROM terms GROUP BY 1)
        |SELECT doc_id, n_bigrams,
        |  round(CAST(ps AS DOUBLE) / n_bigrams / 1000000000000.0, 6) AS lm_score,
        |  CASE WHEN ps >= 36000000000 * n_bigrams THEN 'high'
        |       WHEN ps >= 32000000000 * n_bigrams THEN 'mid'
        |       ELSE 'low' END AS lm_bucket
        |FROM agg ORDER BY doc_id""".stripMargin,
    // interpolated Kneser-Ney with rational discount D=3/4: every term
    // clears denominators into exact integers; HUGEINT mirrors Spark's
    // DECIMAL(38,0) widening of the count products
    "q_kn_score" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents),
        |bi AS (SELECT doc_id, words[i] AS w1, words[i+1] AS w2
        |       FROM (SELECT doc_id, words, unnest(generate_series(1, len(words) - 1)) AS i FROM w)),
        |c12 AS (SELECT w1, w2, count(*) AS n12 FROM bi GROUP BY 1, 2),
        |lft AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1, count(*) AS f1 FROM c12 GROUP BY 1),
        |rgt AS (SELECT w2, count(*) AS b2 FROM c12 GROUP BY 1),
        |ty AS (SELECT count(*) AS t FROM c12),
        |terms AS (SELECT bi.doc_id,
        |    CAST((1000000000000 * ((4 * CAST(n12 AS HUGEINT) - 3) * t
        |                           + 3 * CAST(f1 AS HUGEINT) * b2))
        |      // (4 * CAST(n1 AS HUGEINT) * t) AS BIGINT) AS p_scaled
        |  FROM bi JOIN c12 USING (w1, w2) JOIN lft USING (w1) JOIN rgt USING (w2), ty),
        |agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(p_scaled) AS ps FROM terms GROUP BY 1)
        |SELECT doc_id, n_bigrams,
        |  round(CAST(ps AS DOUBLE) / n_bigrams / 1000000000000.0, 6) AS kn_score,
        |  CASE WHEN ps >= 36000000000 * n_bigrams THEN 'high'
        |       WHEN ps >= 32000000000 * n_bigrams THEN 'mid'
        |       ELSE 'low' END AS kn_bucket
        |FROM agg ORDER BY doc_id""".stripMargin,
    // DSIR importance weights: target-vs-raw LM term ratios kept integer
    // (HUGEINT product mirrors Spark's DECIMAL(38,0)); bi is MATERIALIZED
    // because five consumers would otherwise re-inline the explode
    "q_dsir_select" ->
      """WITH w AS MATERIALIZED (
        |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS words
        |  FROM documents),
        |vocab AS (SELECT count(DISTINCT tok) AS v
        |  FROM (SELECT unnest(words) AS tok FROM w)),
        |bi AS MATERIALIZED (
        |  SELECT doc_id, source, words[i] AS w1, words[i+1] AS w2
        |  FROM (SELECT doc_id, source, words,
        |          unnest(generate_series(1, len(words) - 1)) AS i FROM w)),
        |c12t AS (SELECT w1, w2, count(*) AS n12t FROM bi WHERE source = 'src0' GROUP BY 1, 2),
        |c1t AS (SELECT w1, count(*) AS n1t FROM bi WHERE source = 'src0' GROUP BY 1),
        |c12r AS (SELECT w1, w2, count(*) AS n12r FROM bi GROUP BY 1, 2),
        |c1r AS (SELECT w1, count(*) AS n1r FROM bi GROUP BY 1),
        |terms AS (
        |  SELECT bi.doc_id,
        |    CAST((1000000000000 * CAST(COALESCE(n12t, 0) + 1 AS HUGEINT))
        |      // (COALESCE(n1t, 0) + (SELECT v FROM vocab)) AS BIGINT) AS pt,
        |    CAST((1000000000000 * CAST(n12r + 1 AS HUGEINT))
        |      // (n1r + (SELECT v FROM vocab)) AS BIGINT) AS pr
        |  FROM bi JOIN c12r USING (w1, w2) JOIN c1r USING (w1)
        |  LEFT JOIN c12t USING (w1, w2) LEFT JOIN c1t USING (w1)),
        |agg AS (SELECT doc_id, count(*) AS n_bigrams,
        |    sum(pt) AS st, sum(pr) AS sr FROM terms GROUP BY 1),
        |sc AS (SELECT doc_id, n_bigrams,
        |    CAST((CAST(st AS HUGEINT) * 1000000) // sr AS BIGINT) AS imp_scaled
        |  FROM agg),
        |t AS (SELECT quantile_cont(imp_scaled, 0.75) AS threshold FROM sc)
        |SELECT doc_id, n_bigrams, imp_scaled,
        |  round(threshold, 6) AS threshold, imp_scaled >= threshold AS keep
        |FROM sc CROSS JOIN t ORDER BY doc_id""".stripMargin,

    "q_text_split" ->
      """WITH parts AS (
        |  SELECT doc_id, string_split_regex(text, '\s+stream\s+') AS arr
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS i
        |  FROM parts)
        |SELECT doc_id, CAST(i AS INTEGER) AS part_idx, arr[i] AS record,
        |  CAST(length(arr[i]) AS INTEGER) AS n_chars
        |FROM idx WHERE length(arr[i]) > 0
        |ORDER BY doc_id, part_idx""".stripMargin,

    // generate_series yields BIGINT in DuckDB — cast the derived ints so the
    // schema matches Spark's INT chunk_idx/chunk_start/len/chunk_len
    "q_text_chunks" ->
      """WITH base AS (
        |  SELECT doc_id, text, CAST(length(text) AS INTEGER) AS len FROM documents),
        |k AS (
        |  SELECT doc_id, text, len,
        |    CASE WHEN len <= 200 THEN 0
        |         ELSE CAST(ceil((len - 200) / 150.0) AS INTEGER) END AS last_k
        |  FROM base),
        |c AS (SELECT doc_id, text, len,
        |        unnest(generate_series(0, last_k)) AS chunk_idx FROM k)
        |SELECT doc_id, len, CAST(chunk_idx AS INTEGER) AS chunk_idx,
        |  CAST(chunk_idx * 150 + 1 AS INTEGER) AS chunk_start,
        |  substring(text, CAST(chunk_idx * 150 + 1 AS INTEGER), 200) AS chunk_text,
        |  CAST(length(substring(text, CAST(chunk_idx * 150 + 1 AS INTEGER), 200)) AS INTEGER) AS chunk_len
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // lift not PMI (log is monotone -- adds nothing to the ranking, and
    // would put order-dependent float sums in the gate); rounded lift is
    // the ORDER key in both engines, (w1,w2) breaks rounding ties
    "q_collocations" ->
      s"""WITH w AS (SELECT string_split_regex(trim(text), '\\s+') AS words FROM documents),
         |t AS (SELECT unnest(words) AS tok FROM w),
         |c1 AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
         |idx AS (SELECT words, unnest(generate_series(1, len(words) - 1)) AS i
         |        FROM w WHERE len(words) >= 2),
         |b AS (SELECT words[i] AS w1, words[i+1] AS w2 FROM idx),
         |n AS (SELECT count(*) AS n_total FROM b),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2
         |        HAVING count(*) >= $CollocMinSupport)
         |SELECT w1, w2, c12, ca.c AS ca, cb.c AS cb,
         |  round((CAST((SELECT n_total FROM n) AS DOUBLE) * CAST(c12 AS DOUBLE))
         |    / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)), 6) AS lift
         |FROM c12
         |JOIN c1 ca ON c12.w1 = ca.tok
         |JOIN c1 cb ON c12.w2 = cb.tok
         |ORDER BY lift DESC, w1, w2 LIMIT 20""".stripMargin,

    "q_bpe_pairs" ->
      """WITH w AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS words FROM documents),
        |w2 AS (SELECT words FROM w WHERE len(words) >= 2),
        |idx AS (SELECT words, unnest(generate_series(1, len(words) - 1)) AS i FROM w2),
        |p AS (SELECT words[i] || ' ' || words[i+1] AS pair FROM idx)
        |SELECT pair, count(*) AS n FROM p
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    // same score formula as q_text_quality; threshold = quantile_cont
    // (the proven percentile() pairing) over the whole corpus
    "q_quality_prune" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '\b(the|a|and|of|to)\b')) AS INTEGER) AS stop_hits,
        |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS INTEGER) AS chars_nospace
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id,
        |    0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 100) +
        |    0.25 * (1.0 - CASE WHEN n_tokens = 0 THEN NULL
        |                       ELSE CAST(stop_hits AS DOUBLE) / n_tokens END) +
        |    0.25 * least(1.0, CASE WHEN n_tokens = 0 THEN NULL
        |                           ELSE CAST(chars_nospace AS DOUBLE) / n_tokens END / 8)
        |      AS quality_score
        |  FROM base),
        |t AS (SELECT quantile_cont(quality_score, 0.3) AS threshold FROM scored)
        |SELECT doc_id, round(quality_score, 6) AS quality_score,
        |  round(threshold, 6) AS threshold,
        |  quality_score >= threshold AS keep
        |FROM scored CROSS JOIN t ORDER BY doc_id""".stripMargin,

    // integer-only aggregation: sums of global token counts, no float
    // accumulation anywhere before the final exact division
    "q_word_rarity" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok
        |  FROM documents),
        |v AS (SELECT tok, count(*) AS tok_count FROM toks GROUP BY tok)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(tok_count) AS BIGINT) AS sum_freq,
        |  CAST(min(tok_count) AS BIGINT) AS min_freq,
        |  CAST(sum(tok_count) AS DOUBLE) / count(*) AS mean_freq
        |FROM toks JOIN v USING (tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // n_grams counts 3-grams WITH duplicates; docs under 3 words get
    // (0, 0, NULL, NULL) via the left join
    "q_text_repetition" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents),
        |idx AS (SELECT doc_id, words, unnest(generate_series(1, len(words) - 2)) AS i FROM w),
        |g AS (SELECT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS sh FROM idx),
        |agg AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_grams,
        |               CAST(count(DISTINCT sh) AS INTEGER) AS n_distinct
        |        FROM g GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(n_grams, 0) AS n_grams,
        |  COALESCE(n_distinct, 0) AS n_distinct,
        |  CASE WHEN COALESCE(n_grams, 0) > 0
        |       THEN 1.0 - CAST(n_distinct AS DOUBLE) / n_grams END AS rep_ratio,
        |  CASE WHEN COALESCE(n_grams, 0) > 0
        |       THEN (1.0 - CAST(n_distinct AS DOUBLE) / n_grams) > 0.2 END AS repetitive
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Gopher bundle: keep gates compared in the 100*covered vs pct*total
    // INTEGER domain; only the display fractions are doubles
    "q_gopher_repetition" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words,
        |       CAST(length(trim(text)) AS BIGINT) AS total_chars FROM documents),
        |g AS (SELECT doc_id, total_chars, n,
        |    array_to_string(words[i:i+n-1], ' ') AS gram
        |  FROM w,
        |    unnest(generate_series(2, 6)) AS tn(n),
        |    unnest(generate_series(1, len(words) - n + 1)) AS ti(i)),
        |c AS (SELECT doc_id, total_chars, n, gram, count(*) AS cnt,
        |    CAST(count(*) * length(gram) AS BIGINT) AS covered
        |  FROM g GROUP BY 1, 2, 3, 4),
        |top AS (SELECT doc_id, total_chars, n, covered AS topc FROM c
        |  QUALIFY row_number() OVER (PARTITION BY doc_id, n
        |    ORDER BY cnt DESC, gram) = 1),
        |dup AS (SELECT doc_id, n,
        |    CAST(sum(CASE WHEN cnt > 1 THEN covered ELSE 0 END) AS BIGINT) AS dupc
        |  FROM c GROUP BY 1, 2),
        |pn AS (SELECT t.doc_id, t.total_chars, t.n, t.topc, d.dupc
        |  FROM top t JOIN dup d USING (doc_id, n)),
        |pv AS (SELECT doc_id, total_chars,
        |    CAST(sum(CASE WHEN n = 2 THEN topc ELSE 0 END) AS BIGINT) AS top2,
        |    CAST(sum(CASE WHEN n = 3 THEN topc ELSE 0 END) AS BIGINT) AS top3,
        |    CAST(sum(CASE WHEN n = 4 THEN topc ELSE 0 END) AS BIGINT) AS top4,
        |    CAST(sum(CASE WHEN n = 5 THEN dupc ELSE 0 END) AS BIGINT) AS dup5,
        |    CAST(sum(CASE WHEN n = 6 THEN dupc ELSE 0 END) AS BIGINT) AS dup6
        |  FROM pn GROUP BY 1, 2)
        |SELECT doc_id,
        |  round(least(CAST(top2 AS DOUBLE) / total_chars, 1.0), 6) AS top2_frac,
        |  round(least(CAST(top3 AS DOUBLE) / total_chars, 1.0), 6) AS top3_frac,
        |  round(least(CAST(top4 AS DOUBLE) / total_chars, 1.0), 6) AS top4_frac,
        |  round(least(CAST(dup5 AS DOUBLE) / total_chars, 1.0), 6) AS dup5_frac,
        |  round(least(CAST(dup6 AS DOUBLE) / total_chars, 1.0), 6) AS dup6_frac,
        |  (top2 * 100 <= total_chars * 20 AND top3 * 100 <= total_chars * 18
        |   AND top4 * 100 <= total_chars * 16 AND dup5 * 100 <= total_chars * 15
        |   AND dup6 * 100 <= total_chars * 14) AS gopher_keep
        |FROM pv ORDER BY doc_id""".stripMargin,

    // page fixture rebuilt verbatim + every
    // keep gate compared in the integer domain; only mean_word_len displays
    // as a double
    "q_gopher_quality" ->
      s"""WITH $pageSql,
         |m AS (SELECT doc_id, lines, page,
         |    regexp_extract_all(page, '\\S+') AS pwords,
         |    CAST(len(lines) AS BIGINT) AS n_lines,
         |    CAST(length(regexp_replace(page, '\\s+', '', 'g')) AS BIGINT) AS chars_nospace,
         |    CAST(len(regexp_extract_all(page, '#|\\.\\.\\.')) AS BIGINT) AS n_sym,
         |    CAST(len(list_filter(lines, l -> l LIKE '- %')) AS BIGINT) AS n_bullet,
         |    CAST(len(list_filter(lines, l -> l LIKE '%...')) AS BIGINT) AS n_ellipsis,
         |    CAST(len(list_intersect(
         |      list_distinct(regexp_extract_all(lower(page), '[a-z]+')),
         |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits
         |  FROM pp),
         |g AS (SELECT doc_id, CAST(len(pwords) AS BIGINT) AS n_words, n_lines,
         |    chars_nospace, n_sym, n_bullet, n_ellipsis, stop_hits,
         |    CAST(len(list_filter(pwords, w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS n_alpha
         |  FROM m)
         |SELECT doc_id, n_words, n_lines,
         |  round(CAST(chars_nospace AS DOUBLE) / n_words, 6) AS mean_word_len,
         |  (n_words >= 50 AND n_words <= 100000) AS gate_words,
         |  (chars_nospace >= n_words * 3 AND chars_nospace <= n_words * 10) AS gate_mean_len,
         |  (n_sym * 10 <= n_words) AS gate_symbol,
         |  (n_bullet * 10 <= n_lines * 9) AS gate_bullet,
         |  (n_ellipsis * 10 <= n_lines * 3) AS gate_ellipsis,
         |  (n_alpha * 10 >= n_words * 8) AS gate_alpha,
         |  (stop_hits >= 2) AS gate_stop,
         |  ((n_words >= 50 AND n_words <= 100000)
         |   AND (chars_nospace >= n_words * 3 AND chars_nospace <= n_words * 10)
         |   AND (n_sym * 10 <= n_words) AND (n_bullet * 10 <= n_lines * 9)
         |   AND (n_ellipsis * 10 <= n_lines * 3) AND (n_alpha * 10 >= n_words * 8)
         |   AND (stop_hits >= 2)) AS gopher_quality_keep
         |FROM g ORDER BY doc_id""".stripMargin,

    // C4 line rules over the same fixture page; sentence count = terminal
    // marks in the KEPT lines (documented convention: '...' counts 3)
    "q_c4_filters" ->
      s"""WITH $pageSql,
         |k AS (SELECT doc_id, lines, page,
         |    list_filter(lines, l -> right(l, 1) IN ('.', '!', '?', '"')
         |      AND len(regexp_extract_all(l, '\\S+')) >= 5
         |      AND NOT contains(l, 'javascript')) AS kept
         |  FROM pp),
         |c AS (SELECT doc_id, lines, kept, page,
         |    coalesce(array_to_string(kept, chr(10)), '') AS clean_text FROM k)
         |SELECT doc_id,
         |  CAST(len(lines) AS INTEGER) AS n_lines,
         |  CAST(len(kept) AS INTEGER) AS n_kept,
         |  CAST(len(regexp_extract_all(clean_text, '[.!?]')) AS INTEGER) AS n_sentences,
         |  contains(page, 'lorem ipsum') AS has_lorem,
         |  contains(page, '{') AS has_brace,
         |  (NOT contains(page, 'lorem ipsum') AND NOT contains(page, '{')
         |   AND len(regexp_extract_all(clean_text, '[.!?]')) >= 3) AS page_keep,
         |  clean_text
         |FROM c ORDER BY doc_id""".stripMargin,

    // char-class counts as length differences after regexp-strip ('g'
    // flag for replace-all parity); ppm fractions divide corpus sums once
    "q_script_mix" ->
      """WITH c AS (
        |  SELECT lang, CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g'))
        |      AS BIGINT) AS n_alpha,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |      AS BIGINT) AS n_digit,
        |    CAST(length(text) - length(regexp_replace(text, '\s', '', 'g'))
        |      AS BIGINT) AS n_space
        |  FROM documents),
        |g AS (SELECT lang, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS chars,
        |    CAST(sum(n_alpha) AS BIGINT) AS alpha,
        |    CAST(sum(n_digit) AS BIGINT) AS digit,
        |    CAST(sum(n_space) AS BIGINT) AS space
        |  FROM c GROUP BY lang)
        |SELECT lang, n_docs, chars,
        |  CAST((1000000 * CAST(alpha AS HUGEINT)) // chars AS BIGINT) AS ppm_alpha,
        |  CAST((1000000 * CAST(digit AS HUGEINT)) // chars AS BIGINT) AS ppm_digit,
        |  CAST((1000000 * CAST(space AS HUGEINT)) // chars AS BIGINT) AS ppm_space,
        |  CAST((1000000 * CAST(chars - alpha - digit - space AS HUGEINT)) // chars
        |    AS BIGINT) AS ppm_other
        |FROM g ORDER BY lang""".stripMargin,

    // integer centi-grade with floor division; vowel-group syllable
    // approximation; sentence count floored at 1
    "q_readability" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS BIGINT) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  (39 * n_words) // n_sentences
        |    + (1180 * n_syllables) // n_words - 1559 AS grade_centi,
        |  CASE WHEN (39 * n_words) // n_sentences
        |            + (1180 * n_syllables) // n_words - 1559 < 700 THEN 'easy'
        |       WHEN (39 * n_words) // n_sentences
        |            + (1180 * n_syllables) // n_words - 1559 < 1100 THEN 'medium'
        |       ELSE 'hard' END AS band
        |FROM m WHERE n_words > 0 ORDER BY doc_id""".stripMargin,

    // blocklist derived in SQL (same top-8 bigram order), counts via the
    // non-overlapping replace identity — no automaton needed in the oracle
    "q_blocklist_hits" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents),
        |bi AS (SELECT words[i] || ' ' || words[i+1] AS pattern
        |       FROM (SELECT words, unnest(generate_series(1, len(words) - 1)) AS i
        |             FROM w WHERE len(words) >= 2)),
        |top AS (SELECT pattern, count(*) AS cnt FROM bi GROUP BY 1
        |        ORDER BY cnt DESC, pattern LIMIT 8),
        |hits AS (SELECT d.doc_id, p.pattern,
        |    (length(d.text) - length(replace(d.text, p.pattern, '')))
        |      // length(p.pattern) AS n_hits
        |  FROM documents d CROSS JOIN top p),
        |hm AS (SELECT doc_id, pattern, CAST(n_hits AS BIGINT) AS n_hits
        |       FROM hits WHERE n_hits > 0)
        |SELECT doc_id, pattern, n_hits,
        |  CAST(sum(n_hits) OVER (PARTITION BY doc_id) AS BIGINT) AS doc_hits,
        |  sum(n_hits) OVER (PARTITION BY doc_id) >= 4 AS blocked
        |FROM hm ORDER BY doc_id, pattern""".stripMargin,

    // the four gates recomputed in one WITH (page fixture shared; the
    // repetition gate runs on RAW text, rw-prefixed), then one 9-counter
    // aggregation unpivoted to the 5 funnel rows
    "q_curation_gate" ->
      s"""WITH $pageSql,
         |m AS (SELECT doc_id, lines, page,
         |    regexp_extract_all(page, '\\S+') AS pwords,
         |    CAST(len(lines) AS BIGINT) AS n_lines,
         |    CAST(length(regexp_replace(page, '\\s+', '', 'g')) AS BIGINT) AS chars_nospace,
         |    CAST(len(regexp_extract_all(page, '#|\\.\\.\\.')) AS BIGINT) AS n_sym,
         |    CAST(len(list_filter(lines, l -> l LIKE '- %')) AS BIGINT) AS n_bullet,
         |    CAST(len(list_filter(lines, l -> l LIKE '%...')) AS BIGINT) AS n_ellipsis,
         |    CAST(len(list_intersect(
         |      list_distinct(regexp_extract_all(lower(page), '[a-z]+')),
         |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits
         |  FROM pp),
         |gk2 AS (SELECT doc_id,
         |    (CAST(len(pwords) AS BIGINT) BETWEEN 50 AND 100000
         |     AND chars_nospace >= CAST(len(pwords) AS BIGINT) * 3
         |     AND chars_nospace <= CAST(len(pwords) AS BIGINT) * 10
         |     AND n_sym * 10 <= CAST(len(pwords) AS BIGINT)
         |     AND n_bullet * 10 <= n_lines * 9
         |     AND n_ellipsis * 10 <= n_lines * 3
         |     AND CAST(len(list_filter(pwords, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) * 10
         |         >= CAST(len(pwords) AS BIGINT) * 8
         |     AND stop_hits >= 2) AS k2
         |  FROM m),
         |gk3 AS (SELECT doc_id,
         |    (NOT contains(page, 'lorem ipsum') AND NOT contains(page, '{')
         |     AND len(regexp_extract_all(coalesce(array_to_string(
         |       list_filter(lines, l -> right(l, 1) IN ('.', '!', '?', '"')
         |         AND len(regexp_extract_all(l, '\\S+')) >= 5
         |         AND NOT contains(l, 'javascript')), chr(10)), ''), '[.!?]')) >= 3) AS k3
         |  FROM pp),
         |rw AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words,
         |       CAST(length(trim(text)) AS BIGINT) AS total_chars FROM documents),
         |rg AS (SELECT doc_id, total_chars, n,
         |    array_to_string(words[i:i+n-1], ' ') AS gram
         |  FROM rw,
         |    unnest(generate_series(2, 6)) AS tn(n),
         |    unnest(generate_series(1, len(words) - n + 1)) AS ti(i)),
         |rc AS (SELECT doc_id, total_chars, n, gram, count(*) AS cnt,
         |    CAST(count(*) * length(gram) AS BIGINT) AS covered
         |  FROM rg GROUP BY 1, 2, 3, 4),
         |rtop AS (SELECT doc_id, total_chars, n, covered AS topc FROM rc
         |  QUALIFY row_number() OVER (PARTITION BY doc_id, n
         |    ORDER BY cnt DESC, gram) = 1),
         |rdup AS (SELECT doc_id, n,
         |    CAST(sum(CASE WHEN cnt > 1 THEN covered ELSE 0 END) AS BIGINT) AS dupc
         |  FROM rc GROUP BY 1, 2),
         |rpv AS (SELECT t.doc_id, t.total_chars,
         |    CAST(sum(CASE WHEN t.n = 2 THEN topc ELSE 0 END) AS BIGINT) AS top2,
         |    CAST(sum(CASE WHEN t.n = 3 THEN topc ELSE 0 END) AS BIGINT) AS top3,
         |    CAST(sum(CASE WHEN t.n = 4 THEN topc ELSE 0 END) AS BIGINT) AS top4,
         |    CAST(sum(CASE WHEN d.n = 5 THEN dupc ELSE 0 END) AS BIGINT) AS dup5,
         |    CAST(sum(CASE WHEN d.n = 6 THEN dupc ELSE 0 END) AS BIGINT) AS dup6
         |  FROM rtop t JOIN rdup d USING (doc_id, n) GROUP BY 1, 2),
         |gk1 AS (SELECT doc_id,
         |    (top2 * 100 <= total_chars * 20 AND top3 * 100 <= total_chars * 18
         |     AND top4 * 100 <= total_chars * 16 AND dup5 * 100 <= total_chars * 15
         |     AND dup6 * 100 <= total_chars * 14) AS k1
         |  FROM rpv),
         |tok AS (SELECT doc_id, unnest(words) AS tok FROM w),
         |vocab AS (SELECT count(DISTINCT tok) AS v FROM tok),
         |bi AS (SELECT doc_id, lang, words[i] AS w1, words[i+1] AS w2
         |       FROM (SELECT doc_id, lang, words, unnest(generate_series(1, len(words) - 1)) AS i FROM w)),
         |c12 AS (SELECT w1, w2, count(*) AS n12 FROM bi GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*) AS n1 FROM bi GROUP BY 1),
         |terms AS (SELECT bi.doc_id, bi.lang,
         |    CAST((1000000000000 * CAST(n12 + 1 AS HUGEINT))
         |      // (n1 + (SELECT v FROM vocab)) AS BIGINT) AS p_scaled
         |  FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1)),
         |agg2 AS (SELECT doc_id, lang, count(*) AS n_bigrams, sum(p_scaled) AS ps
         |  FROM terms GROUP BY 1, 2),
         |sc AS (SELECT doc_id, lang, CAST(ps // n_bigrams AS BIGINT) AS score FROM agg2),
         |rr AS (SELECT doc_id, lang, score,
         |    row_number() OVER (PARTITION BY lang ORDER BY score, doc_id) AS rnk,
         |    count(*) OVER (PARTITION BY lang) AS n FROM sc),
         |gk4 AS (SELECT doc_id, ((rnk - 1) * 3) // n >= 1 AS k4 FROM rr),
         |jj AS (SELECT d.doc_id,
         |    coalesce(k1, false) AS k1, coalesce(k2, false) AS k2,
         |    coalesce(k3, false) AS k3, coalesce(k4, false) AS k4
         |  FROM documents d LEFT JOIN gk1 USING (doc_id)
         |  LEFT JOIN gk2 USING (doc_id) LEFT JOIN gk3 USING (doc_id)
         |  LEFT JOIN gk4 USING (doc_id)),
         |a AS (SELECT
         |    CAST(count(*) AS BIGINT) AS n_total,
         |    CAST(sum(CASE WHEN k1 THEN 1 ELSE 0 END) AS BIGINT) AS p1,
         |    CAST(sum(CASE WHEN k2 THEN 1 ELSE 0 END) AS BIGINT) AS p2,
         |    CAST(sum(CASE WHEN k3 THEN 1 ELSE 0 END) AS BIGINT) AS p3,
         |    CAST(sum(CASE WHEN k4 THEN 1 ELSE 0 END) AS BIGINT) AS p4,
         |    CAST(sum(CASE WHEN k1 AND k2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         |    CAST(sum(CASE WHEN k1 AND k2 AND k3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         |    CAST(sum(CASE WHEN k1 AND k2 AND k3 AND k4 THEN 1 ELSE 0 END) AS BIGINT) AS c4
         |  FROM jj)
         |SELECT * FROM (
         |  SELECT '0_total' AS stage, n_total AS n_pass, n_total AS n_survivors FROM a
         |  UNION ALL SELECT '1_gopher_repetition', p1, p1 FROM a
         |  UNION ALL SELECT '2_gopher_quality', p2, c2 FROM a
         |  UNION ALL SELECT '3_c4_rules', p3, c3 FROM a
         |  UNION ALL SELECT '4_ppl_tail', p4, c4 FROM a)
         |ORDER BY stage""".stripMargin,

    // per-language tercile by the integer LM score; the row_number window
    // is the oracle-side single-reducer formulation of the grid rank
    "q_ppl_buckets" ->
      """WITH w AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS words FROM documents),
        |tok AS (SELECT doc_id, unnest(words) AS tok FROM w),
        |vocab AS (SELECT count(DISTINCT tok) AS v FROM tok),
        |bi AS (SELECT doc_id, lang, words[i] AS w1, words[i+1] AS w2
        |       FROM (SELECT doc_id, lang, words, unnest(generate_series(1, len(words) - 1)) AS i FROM w)),
        |c12 AS (SELECT w1, w2, count(*) AS n12 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS n1 FROM bi GROUP BY 1),
        |terms AS (SELECT bi.doc_id, bi.lang,
        |    CAST((1000000000000 * CAST(n12 + 1 AS HUGEINT))
        |      // (n1 + (SELECT v FROM vocab)) AS BIGINT) AS p_scaled
        |  FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1)),
        |agg AS (SELECT doc_id, lang, count(*) AS n_bigrams, sum(p_scaled) AS ps
        |  FROM terms GROUP BY 1, 2),
        |sc AS (SELECT doc_id, lang, CAST(ps // n_bigrams AS BIGINT) AS score FROM agg),
        |r AS (SELECT doc_id, lang, score,
        |    row_number() OVER (PARTITION BY lang ORDER BY score, doc_id) AS rnk,
        |    count(*) OVER (PARTITION BY lang) AS n FROM sc)
        |SELECT doc_id, lang, score, CAST(rnk AS BIGINT) AS ppl_rank,
        |  CASE CAST(((rnk - 1) * 3) // n AS INT) WHEN 2 THEN 'head'
        |       WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_regex_extract" ->
      """WITH matches AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]{6,}')) AS word
        |  FROM documents)
        |SELECT word, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
        |FROM matches WHERE length(word) <= 12
        |GROUP BY word ORDER BY word""".stripMargin,

    "q_json_export" ->
      """SELECT c_custkey,
        |  to_json(struct_pack(c_custkey := c_custkey, c_name := c_name,
        |                      c_mktsegment := c_mktsegment)) AS payload
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INTEGER) AS n_bpe_tokens,
        |  CAST(len(list_distinct(regexp_extract_all(text, '\S+'))) AS INTEGER) AS n_distinct,
        |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS INTEGER) AS chars_nospace,
        |  CASE WHEN len(regexp_extract_all(text, '\S+')) = 0 THEN NULL
        |       ELSE CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |            / len(regexp_extract_all(text, '\S+')) END AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_quality" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '\b(the|a|and|of|to)\b')) AS INTEGER) AS stop_hits,
        |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS INTEGER) AS chars_nospace
        |  FROM documents),
        |ratios AS (
        |  SELECT doc_id, n_tokens, stop_hits,
        |    CASE WHEN n_tokens = 0 THEN NULL
        |         ELSE CAST(stop_hits AS DOUBLE) / n_tokens END AS stop_ratio,
        |    CASE WHEN n_tokens = 0 THEN NULL
        |         ELSE CAST(chars_nospace AS DOUBLE) / n_tokens END AS avg_token_len
        |  FROM base)
        |SELECT doc_id, n_tokens, stop_hits, stop_ratio, avg_token_len,
        |  0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 100) +
        |  0.25 * (1.0 - stop_ratio) +
        |  0.25 * least(1.0, avg_token_len / 8) AS quality_score
        |FROM ratios ORDER BY doc_id""".stripMargin,

    "q_text_langid" ->
      """WITH hits AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(text, '\b(the|a|and|is|of|to)\b')) AS INTEGER) AS en_hits,
        |    CAST(len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) AS INTEGER) AS de_hits,
        |    CAST(len(regexp_extract_all(text, '\b(le|la|les|et|est)\b')) AS INTEGER) AS fr_hits,
        |    CAST(len(regexp_extract_all(text, '\b(el|los|las|es|y)\b')) AS INTEGER) AS es_hits
        |  FROM documents),
        |pred AS (
        |  SELECT *,
        |    CASE WHEN en_hits >= greatest(de_hits, fr_hits, es_hits) THEN 'en'
        |         WHEN de_hits >= greatest(fr_hits, es_hits) THEN 'de'
        |         WHEN fr_hits >= es_hits THEN 'fr'
        |         ELSE 'es' END AS predicted_lang
        |  FROM hits)
        |SELECT doc_id, lang, en_hits, de_hits, fr_hits, es_hits, predicted_lang,
        |  predicted_lang = lang AS is_match
        |FROM pred ORDER BY doc_id""".stripMargin,

    "q_context_score" ->
      """WITH base AS (
        |  SELECT doc_id, text, CAST(strpos(text, 'spark') AS INTEGER) AS p FROM documents),
        |wins AS (
        |  SELECT doc_id, p, substring(text, greatest(p - 40, 1), 80) AS win FROM base),
        |scored AS (
        |  SELECT doc_id, p,
        |    CAST(len(regexp_extract_all(win, 'fast|quick')) AS INTEGER) AS good,
        |    CAST(len(regexp_extract_all(win, 'slow|error')) AS INTEGER) AS bad
        |  FROM wins)
        |SELECT doc_id, good, bad,
        |  CAST(CASE WHEN p = 0 THEN NULL
        |       ELSE 2.0 + 0.5 * good - 0.75 * bad END AS DOUBLE) AS context_score
        |FROM scored ORDER BY doc_id""".stripMargin,

    "q_status_classify" ->
      """SELECT CASE WHEN regexp_matches(text, 'error|fail') THEN 'ERROR'
        |            WHEN regexp_matches(text, 'slow') THEN 'SLOW'
        |            WHEN regexp_matches(text, 'fast') THEN 'FAST'
        |            ELSE 'NEUTRAL' END AS label,
        |  COUNT(*) AS n
        |FROM documents GROUP BY 1 ORDER BY label""".stripMargin,

    "q_notes_extract" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    regexp_extract(text, '^(\S+)', 1) AS first_word,
        |    nullif(regexp_extract(text, '(table|window|stream)', 1), '') AS kw,
        |    CASE WHEN strpos(text, 'spark') > 0 THEN 'mentions spark' END AS mentions_spark
        |  FROM documents)
        |SELECT doc_id, first_word, kw,
        |  substring(concat_ws(' | ', kw, mentions_spark, first_word), 1, 120) AS notes
        |FROM base ORDER BY doc_id""".stripMargin,
  )
}
