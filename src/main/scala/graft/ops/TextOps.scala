package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{r4, table}

/** C8–C11: per-document text analysis. All narrow (no shuffle except
  * the final presentation sort): at 100 TB these run at scan
  * parallelism with column pruning down to (doc_id, text).
  */
object TextOps {

  /** Marker stopwords per language — tiny, inlined on both sides. */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  // ---------------------------------------------------------------- C8
  /** Marker-token language ID: score = marker-token occurrences per
    * language, argmax with fixed priority (en > de > es > fr, else
    * "und" for undetermined). The same CASE runs in DuckDB, so the
    * heuristic itself is the contract (the synthetic corpus's `lang`
    * column is a label with no textual signal — see SURVEY.md §5). */
  def textLangid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = split($"text", " ")
    val scores = Markers.map { case (lang, ms) =>
      size(filter(words, w => ms.foldLeft(lit(false))((acc, m) => acc || w === m)))
        .as(s"${lang}_score")
    }
    val d = table(s, dir, "documents").select($"doc_id" +: scores: _*)
    d.select($"doc_id",
        when($"en_score" > 0 && $"en_score" >= $"de_score" &&
             $"en_score" >= $"es_score" && $"en_score" >= $"fr_score", "en")
          .when($"de_score" > 0 && $"de_score" >= $"es_score" &&
                $"de_score" >= $"fr_score", "de")
          .when($"es_score" > 0 && $"es_score" >= $"fr_score", "es")
          .when($"fr_score" > 0, "fr")
          .otherwise("und").as("pred_lang"),
        $"en_score", $"de_score", $"es_score", $"fr_score")
      .orderBy($"doc_id")
  }
  val textLangidSql: String = {
    val score = Markers.map { case (lang, ms) =>
      val in = ms.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), w -> w IN ($in))) AS ${lang}_score"
    }.mkString(",\n  ")
    s"""WITH sc AS (SELECT doc_id, $score FROM documents)
       |SELECT doc_id,
       |  CASE
       |    WHEN en_score > 0 AND en_score >= de_score AND en_score >= es_score
       |         AND en_score >= fr_score THEN 'en'
       |    WHEN de_score > 0 AND de_score >= es_score AND de_score >= fr_score THEN 'de'
       |    WHEN es_score > 0 AND es_score >= fr_score THEN 'es'
       |    WHEN fr_score > 0 THEN 'fr'
       |    ELSE 'und' END AS pred_lang,
       |  en_score, de_score, es_score, fr_score
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- C9
  /** Quality scores: length, word count, mean word length, alpha /
    * whitespace ratios, stopword ratio — the usual corpus-filtering
    * features, all single-pass regexp/split arithmetic. */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stop = Seq("the", "a", "of", "and", "is")
    table(s, dir, "documents")
      .select($"doc_id", $"text",
        length($"text").as("n_chars_m"),
        size(split($"text", " ")).cast("long").as("n_words"),
        size(filter(split($"text", " "),
          w => stop.foldLeft(lit(false))((acc, m) => acc || w === m)))
          .cast("long").as("n_stop"))
      .select($"doc_id", $"n_chars_m", $"n_words",
        r4(($"n_chars_m" - ($"n_words" - 1)).cast("double") / $"n_words")
          .as("mean_word_len"),
        // nullif guards: an EMPTY doc (n_chars_m = 0, real corpora have
        // them) must score NULL ratios, not abort the whole corpus pass
        // under ANSI; DuckDB's x/0 is NULL already, so the oracle needs
        // no change (dirty-data parity, r10)
        r4(size(split($"text", "[a-z]")).cast("double").minus(1) /
          nullif($"n_chars_m", lit(0))).as("alpha_ratio"),
        r4(($"n_words" - 1).cast("double") / nullif($"n_chars_m", lit(0)))
          .as("space_ratio"),
        r4($"n_stop".cast("double") / $"n_words").as("stopword_ratio"))
      .orderBy($"doc_id")
  }
  val textQualitySql: String =
    """WITH b AS (SELECT doc_id, text, length(text) AS n_chars_m,
      |    len(string_split(text, ' ')) AS n_words,
      |    len(list_filter(string_split(text, ' '),
      |        w -> w IN ('the', 'a', 'of', 'and', 'is'))) AS n_stop
      |  FROM documents)
      |SELECT doc_id, n_chars_m, n_words,
      |  floor((n_chars_m - (n_words - 1)) * 1.0 / n_words * 10000 + 0.5) / 10000
      |    AS mean_word_len,
      |  floor((len(string_split_regex(text, '[a-z]')) - 1) * 1.0 / n_chars_m
      |    * 10000 + 0.5) / 10000 AS alpha_ratio,
      |  floor((n_words - 1) * 1.0 / n_chars_m * 10000 + 0.5) / 10000
      |    AS space_ratio,
      |  floor(n_stop * 1.0 / n_words * 10000 + 0.5) / 10000 AS stopword_ratio
      |FROM b ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C10
  /** Token counting: whitespace tokens and BPE-ish regex tokens
    * (letter runs / digit runs / single non-alnum), plus chars per
    * token — the "how many tokens is this corpus" pipeline stage. */
  def textTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents")
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("bpe_tokens"),
        length($"text").as("n_chars_m"))
      // empty doc → 0 BPE tokens → NULL ratio (ANSI-safe; matches
      // DuckDB's x/0 = NULL, so the oracle is unchanged)
      .withColumn("chars_per_token",
        r4($"n_chars_m".cast("double") / nullif($"bpe_tokens", lit(0L))))
      .orderBy($"doc_id")
  }
  val textTokensSql: String =
    """WITH b AS (SELECT doc_id,
      |    len(string_split(text, ' ')) AS ws_tokens,
      |    len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_tokens,
      |    length(text) AS n_chars_m
      |  FROM documents)
      |SELECT doc_id, ws_tokens, bpe_tokens, n_chars_m,
      |  floor(n_chars_m * 1.0 / bpe_tokens * 10000 + 0.5) / 10000
      |    AS chars_per_token
      |FROM b ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C13
  /** PII scrubbing — the redaction pass every training-data pipeline
    * runs before a corpus ships. Synthetic emails/phones are injected
    * deterministically (the corpus has none), then redacted with the
    * same regexes on both engines; the md5 of the scrubbed text proves
    * byte-identical redaction, not just matching counts. Narrow
    * (regexp at scan parallelism, no shuffle). */
  def textScrub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withPii = table(s, dir, "documents").select($"doc_id",
      when($"doc_id" % 5 === 0,
        concat($"text", lit(" contact user"), $"doc_id", lit("@example.com now")))
        .when($"doc_id" % 5 === 1,
          concat($"text", lit(" call 555-"), $"doc_id" % 10000))
        .otherwise($"text").as("text2"))
    // the start guard makes Java's backtracking engine LINEAR on long
    // alphanumeric runs: without it, every interior position of a run
    // re-consumes the run's tail before failing ('x'*100k ⇒ ~10^10
    // char ops — one adversarial crawl page wedged an executor core
    // for 17+ min in the r11 long-doc sweep). A match may start only
    // at a run start (the lookbehind) OR exactly where the previous
    // match ended (\G); every other position fails in O(1). That
    // disjunction is EXACTLY the oracle's RE2 leftmost-scan semantics:
    // an RE2 match start is either a run start, or mid-run only when
    // the run's prefix was consumed by the previous match (else the
    // pattern would already match one char earlier, contradicting
    // leftmost) — the lookbehind alone missed the second arm and
    // silently dropped an email abutting the previous match's TLD
    // ('a@b.com2@d.ee'). RegexScrubSpec pins the abutting/underscore/
    // uppercase/long-run adversaries against the closed-form oracle.
    val email = "(?:(?<![a-z0-9])|\\G)[a-z0-9]+@[a-z]+\\.[a-z]+"
    val phone = "555-[0-9]+"
    // function form (not expr): the pattern reaches the regex engine
    // verbatim, never through SQL string-literal escape parsing
    withPii.select($"doc_id",
        size(regexp_extract_all($"text2", lit(email), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all($"text2", lit(phone), lit(0))).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace($"text2", email, "<EMAIL>"),
          phone, "<PHONE>")).as("scrub_md5"))
      .orderBy($"doc_id")
  }
  val textScrubSql: String =
    """WITH p AS (SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0
      |      THEN text || ' contact user' || doc_id || '@example.com now'
      |      WHEN doc_id % 5 = 1 THEN text || ' call 555-' || (doc_id % 10000)
      |      ELSE text END AS text2
      |  FROM documents)
      |SELECT doc_id,
      |  len(regexp_extract_all(text2, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS n_emails,
      |  len(regexp_extract_all(text2, '555-[0-9]+')) AS n_phones,
      |  md5(regexp_replace(regexp_replace(text2,
      |    '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
      |    '555-[0-9]+', '<PHONE>', 'g')) AS scrub_md5
      |FROM p ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C18
  /** Repetition scoring (the Gopher-rules quality gate): fraction of
    * duplicated 3-gram slots per document plus the count of the most
    * repeated 3-gram — high values mark boilerplate/spam for removal.
    * Narrow per-row array arithmetic, no shuffle. */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("w"))
      .filter(size($"w") >= 3)
      .select($"doc_id",
        transform(sequence(lit(0), size($"w") - 3),
          i => concat_ws(" ", slice($"w", i + 1, lit(3)))).as("grams"))
      .select($"doc_id",
        size($"grams").cast("long").as("n_grams"),
        size(array_distinct($"grams")).cast("long").as("n_distinct"),
        (size($"grams") - size(array_distinct($"grams"))).cast("long")
          .as("n_dup_slots"),
        r4((size($"grams") - size(array_distinct($"grams"))).cast("double") /
          size($"grams")).as("dup_ratio"))
      .orderBy($"doc_id")
  }
  val textRepetitionSql: String =
    """WITH g AS (SELECT doc_id,
      |    [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)] AS grams
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 3)
      |SELECT doc_id,
      |  len(grams) AS n_grams,
      |  len(list_distinct(grams)) AS n_distinct,
      |  len(grams) - len(list_distinct(grams)) AS n_dup_slots,
      |  floor((len(grams) - len(list_distinct(grams))) * 1.0 / len(grams)
      |    * 10000 + 0.5) / 10000 AS dup_ratio
      |FROM g ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C11
  /** 64-bit rolling polynomial fingerprints over the dup-injected feed;
    * self-join on the fingerprint finds exactly the injected copies.
    * The hash value itself is not SQL-expressible, but the PAIR SET is:
    * fingerprint equality ⇔ text equality on this corpus
    * (collision-freedom asserted by FingerprintSpec), so the oracle is
    * a text-equality self-join producing the identical (d1, d2) rows.
    * 100 TB: the join key is the 8-byte fingerprint, never the text —
    * the shuffle carries (doc_id, fp) only. */
  def textFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fp = Dedup.dupFeed(s, dir)
      .select($"doc_id", expr("fingerprint64(text)").as("fp"))
    fp.as("a").join(fp.as("b"),
        $"a.fp" === $"b.fp" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .orderBy($"d1", $"d2")
  }
  val textFingerprintSql: String =
    s"""WITH ${Dedup.dupFeedSql}
       |SELECT a.doc_id AS d1, b.doc_id AS d2
       |FROM feed a JOIN feed b ON a.text = b.text AND a.doc_id < b.doc_id
       |ORDER BY d1, d2""".stripMargin

  // --------------------------------------------------------------- C19
  /** Benchmark decontamination: flag corpus docs sharing any exact
    * 13-gram with a held-out benchmark set (every 7th doc stands in
    * for an eval suite) — the standard leakage gate before training
    * (GPT-3 Appendix C / Gopher-style n-gram overlap filtering).
    *
    * Plan: distinct 13-grams per doc, then a hash-keyed equi-join
    * with a string-equality confirm — the join/shuffle key is the
    * 64-bit xxhash (narrow, skew-resistant), the gram string rides
    * once as payload so a hash collision can't flag a clean doc.
    * 100 TB: both sides shuffle on the hash; the benchmark side is
    * orders of magnitude smaller and AQE broadcasts it when it fits. */
  def textDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = table(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("w"))
      .transform(df => graft.Tables.spread(s, df))
      .filter(size($"w") >= 13)
      .select($"doc_id", explode(array_distinct(
        transform(sequence(lit(0), size($"w") - 13),
          i => concat_ws(" ", slice($"w", i + 1, lit(13)))))).as("g"))
      .select($"doc_id", xxhash64($"g").as("h"), $"g")
      // both join branches (corpus, bench) consume the grams — persist
      // so the split+explode runs once (harness clearCache bounds it)
      .persist()
    val bench = grams.filter($"doc_id" % 7 === 0)
      .select($"doc_id".as("bench_doc"), $"h", $"g".as("bg"))
    grams.filter($"doc_id" % 7 =!= 0)
      .join(bench, "h")
      .filter($"g" === $"bg") // hash-collision guard: exact semantics
      .groupBy($"doc_id", $"bench_doc")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy($"doc_id", $"bench_doc")
  }
  val textDecontaminateSql: String =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+12], ' ')
      |         FOR i IN range(1, len(w) - 11)]) AS sh
      |       FROM words WHERE len(w) >= 13),
      |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      |bench AS (SELECT * FROM ex WHERE doc_id % 7 = 0),
      |corpus AS (SELECT * FROM ex WHERE doc_id % 7 <> 0)
      |SELECT c.doc_id, b.doc_id AS bench_doc, count(*) AS n_shared
      |FROM corpus c JOIN bench b ON c.s = b.s
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- C74
  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken — the MOSS
    * algorithm): sample each document's 5-word-gram hashes by taking
    * the MINIMUM hash in every window of w=4 consecutive grams
    * (rightmost on ties), then report doc pairs sharing ≥ 2 sampled
    * fingerprints. The guarantee C33's all-windows index pays full
    * storage for, at ~2/(w+1) of the storage: any shared run of
    * ≥ w+k−1 words is DETECTED by at least one shared fingerprint.
    *
    * The min-with-rightmost-tie selection is ONE array_min per
    * window over packed keys h·2²⁰ + (2²⁰−1−pos) — smaller key ⇔
    * (smaller hash, else larger pos) — so selection is a single
    * integer min both engines share, no two-pass tie logic.
    *
    * 100 TB: fingerprint generation is fully IN-ROW (gram hashes,
    * window minima, distinct — all array ops at scan parallelism,
    * ZERO shuffles); only sampled fingerprints leave the row. The
    * pair join buckets by fingerprint hash (never all-pairs), with
    * the C33 df≤100 boilerplate cap bounding any hot bucket's Σc². */
  /** The sampled-fingerprint stage over any (doc_id, text) frame —
    * exposed for WinnowingSpec's detection-guarantee property. */
  private[ops] def winnowFps(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val K = 5; val W = 4; val B = 1048576L
    docs
      .select($"doc_id", split($"text", " ").as("w"))
      .transform(df => graft.Tables.spread(s, df))
      .filter(size($"w") >= K + W - 1)
      .select($"doc_id",
        transform(sequence(lit(0), size($"w") - K), i =>
          conv(substring(md5(concat_ws(" ", slice($"w", i + 1, lit(K)))), 1, 8),
            16, 10).cast("long") * B + (lit(B - 1) - i)).as("ks"))
      .select($"doc_id", explode(array_distinct(
        transform(sequence(lit(1), size($"ks") - (W - 1)),
          s0 => array_min(slice($"ks", s0, lit(W)))))).as("key"))
      .select($"doc_id", expr(s"key DIV $B").as("h"))
      .distinct()
  }

  def textWinnowing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fps = winnowFps(s, Dedup.dupFeed(s, dir))
    val common = fps.groupBy($"h").agg(count(lit(1)).as("df"))
      .filter($"df" > 100).select($"h")
    // shuffle_hash (r13, 2 GB-gate dig part 3): the static planner
    // elected this 1.07M-row fingerprint frame as a broadcast build
    // (96 MiB actual at sf1, executed-plan inventory; linear
    // estimate ~20× under actual, so the flip survives SF doublings).
    // The df>100 anti-filter above bounds per-key rows, so the
    // shuffled self-join's per-partition builds are uniform.
    val ok = ShjEnvelope.check(
        fps.join(broadcast(common), Seq("h"), "left_anti"), "winnowing-fps")
      .hint("shuffle_hash")
    ok.as("a").join(ok.as("b"),
        $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= 2)
      .orderBy($"d1", $"d2")
  }
  val textWinnowingSql: String =
    s"""WITH ${Dedup.dupFeedSql},
       |wd AS (SELECT doc_id, string_split(text, ' ') AS w FROM feed
       |  WHERE len(string_split(text, ' ')) >= 8),
       |ks AS (SELECT doc_id,
       |    [CAST(('0x' || substring(md5(array_to_string(w[i:i+4], ' ')), 1, 8))
       |       AS BIGINT) * 1048576 + (1048575 - (i - 1))
       |     FOR i IN range(1, len(w) - 3)] AS ks
       |  FROM wd),
       |sel AS (SELECT doc_id, list_distinct(
       |    [list_min(ks[s:s+3]) FOR s IN range(1, len(ks) - 2)]) AS sel
       |  FROM ks),
       |fps AS (SELECT DISTINCT doc_id, unnest(sel) // 1048576 AS h
       |  FROM sel),
       |ok AS (SELECT * FROM fps WHERE h NOT IN
       |  (SELECT h FROM fps GROUP BY h HAVING count(*) > 100))
       |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
       |FROM ok a JOIN ok b ON a.h = b.h AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY d1, d2""".stripMargin

  // --------------------------------------------------------------- C73
  /** Bloom-filter decontamination — C19's 100 TB membership swap,
    * proven: instead of shuffling every corpus 13-gram against the
    * benchmark gram set, the benchmark side compresses into a Bloom
    * filter (k=4 md5-derived bit positions) whose bit count m is
    * DERIVED from the benchmark size — m = next power of two ≥
    * 16·|bench grams| (~1% fp at k=4), via exact integer bit-length
    * (length(bin(16n−1)) — no float log2), so the filter stays
    * calibrated at every SF instead of saturating. Per corpus doc:
    * total grams, bloom-flagged grams, exact-overlap grams, and the
    * false-positive count the fp budget promises to keep small —
    * the audit that licenses replacing the exact join with the
    * filter-then-confirm plan.
    *
    * 100 TB: the set-bit table (≤ m rows of one BIGINT; the packed
    * form is an m/8-byte bitset) BROADCASTS — the corpus side never
    * shuffles for membership; probe positions are narrow in-row md5
    * folds; the only exchanges are the per-(doc, gram) hit rollup
    * and the final doc rollup, both map-side combinable. The exact
    * branch here exists to MEASURE the fp rate; production keeps it
    * only behind flagged grams (C19's confirm, pre-pruned ~100×). */
  def textBloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = table(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("w"))
      .transform(df => graft.Tables.spread(s, df))
      .filter(size($"w") >= 13)
      .select($"doc_id", explode(array_distinct(
        transform(sequence(lit(0), size($"w") - 13),
          i => concat_ws(" ", slice($"w", i + 1, lit(13)))))).as("g"))
      .persist()
    val bench = grams.filter($"doc_id" % 7 === 0).select($"g").distinct()
    // m = 2^bitlen(16n-1): smallest power of two ≥ 16n, exact integers.
    // greatest(nb, 1): an EMPTY benchmark set would otherwise feed
    // bin(-1) → pow(2, 64) → ANSI BIGINT overflow on both engines
    // (r11 empty-input sweep; the m value is irrelevant then — no
    // corpus rows consume it)
    val mrow = broadcast(bench.agg(count(lit(1)).as("nb"))
      .select($"nb",
        expr("CAST(pow(2, length(bin(greatest(nb, 1) * 16 - 1))) AS BIGINT)")
        .as("m")))
    def positions(df: DataFrame): DataFrame = df
      .crossJoin(mrow.select($"m"))
      .select(df.columns.map(col) :+
        explode(sequence(lit(0), lit(3))).as("j") :+ $"m": _*)
      .withColumn("p",
        conv(substring(md5(concat($"j", lit(":"), $"g")), 1, 8), 16, 10)
          .cast("long") % $"m")
    val bloom = positions(bench).select($"p").distinct()
    val corpus = grams.filter($"doc_id" % 7 =!= 0)
    val hits = positions(corpus)
      .join(broadcast(bloom.withColumn("hit", lit(1))), Seq("p"), "left")
      .groupBy($"doc_id", $"g")
      .agg((sum(coalesce($"hit", lit(0))) === 4).as("flagged"))
    val exact = corpus.join(bench.withColumnRenamed("g", "bg"),
        $"g" === $"bg", "left_semi")
      .select($"doc_id", $"g", lit(true).as("exact"))
    hits.join(exact, Seq("doc_id", "g"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"flagged", 1L).otherwise(0L)).as("n_flagged"),
        sum(when(coalesce($"exact", lit(false)), 1L).otherwise(0L)).as("n_true"),
        sum(when($"flagged" && !coalesce($"exact", lit(false)), 1L)
          .otherwise(0L)).as("n_false_pos"))
      .orderBy($"doc_id")
  }
  val textBloomDecontaminateSql: String =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w
      |  FROM documents),
      |ex AS (SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(w[i:i+12], ' ') FOR i IN range(1, len(w) - 11)]))
      |    AS g
      |  FROM words WHERE len(w) >= 13),
      |bench AS (SELECT DISTINCT g FROM ex WHERE doc_id % 7 = 0),
      |mrow AS (SELECT count(*) AS nb,
      |    CAST(pow(2, length(bin(greatest(count(*), 1) * 16 - 1))) AS BIGINT) AS m
      |  FROM bench),
      |bpos AS (SELECT DISTINCT
      |    CAST(('0x' || substring(md5(j || ':' || g), 1, 8)) AS BIGINT) % m
      |      AS p
      |  FROM bench CROSS JOIN mrow CROSS JOIN (SELECT unnest(range(0, 4)) AS j)),
      |corpus AS (SELECT doc_id, g FROM ex WHERE doc_id % 7 <> 0),
      |cpos AS (SELECT doc_id, g,
      |    CAST(('0x' || substring(md5(j || ':' || g), 1, 8)) AS BIGINT) % m
      |      AS p
      |  FROM corpus CROSS JOIN mrow CROSS JOIN (SELECT unnest(range(0, 4)) AS j)),
      |hits AS (SELECT doc_id, g,
      |    sum(CASE WHEN p IN (SELECT p FROM bpos) THEN 1 ELSE 0 END) = 4
      |      AS flagged
      |  FROM cpos GROUP BY 1, 2),
      |ok AS (SELECT h.doc_id, h.g, h.flagged,
      |    h.g IN (SELECT g FROM bench) AS exact
      |  FROM hits h)
      |SELECT doc_id, count(*) AS n_grams,
      |  CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_flagged,
      |  CAST(sum(CASE WHEN exact THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
      |  CAST(sum(CASE WHEN flagged AND NOT exact THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_false_pos
      |FROM ok GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C65
  /** Duplicated-n-gram coverage (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): per doc, the
    * fraction of its 13-gram SLOTS whose gram occurs in ≥2 distinct
    * docs — the memorization-risk score that near-dup pair detection
    * (C2/C3) does not give you, because partial boilerplate never
    * crosses a pair threshold yet still trains verbatim recall.
    *
    * Shape: positions explode once (persisted — both the df branch
    * and the coverage branch consume them); distinct (doc, gram)
    * pairs → per-gram doc frequency (map-side combinable) → dup-gram
    * set left-joins back to positions; one doc_id rollup. Exchanges
    * carry gram keys; the 100 TB form shuffles xxhash64(gram) with a
    * string confirm (the C19 convention) and broadcasts the
    * boilerplate head (the C29 Zipf split) — exact strings kept here
    * so the oracle is collision-free by construction. */
  def textDupNgramCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pos = table(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("w"))
      .transform(df => graft.Tables.spread(s, df))
      .filter(size($"w") >= 13)
      .select($"doc_id", explode(
        transform(sequence(lit(0), size($"w") - 13),
          i => concat_ws(" ", slice($"w", i + 1, lit(13))))).as("g"))
      .persist()
    val dupGrams = pos.select($"doc_id", $"g").distinct()
      .groupBy($"g").agg(count(lit(1)).as("ndocs"))
      .filter($"ndocs" >= 2)
      .select($"g", lit(1L).as("dup"))
    pos.join(dupGrams, Seq("g"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_slots"),
        sum(when($"dup".isNotNull, 1L).otherwise(0L)).as("n_dup_slots"))
      .select($"doc_id", $"n_slots", $"n_dup_slots",
        floor($"n_dup_slots" * 1000000.0 / $"n_slots" + 0.5).cast("long")
          .as("dup_ppm"))
      .orderBy($"doc_id")
  }
  val textDupNgramCoverageSql: String =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |pos AS (SELECT doc_id, unnest([array_to_string(w[i:i+12], ' ')
      |         FOR i IN range(1, len(w) - 11)]) AS g
      |       FROM words WHERE len(w) >= 13),
      |dg AS (SELECT g, CAST(1 AS BIGINT) AS dup FROM (
      |         SELECT g, count(DISTINCT doc_id) AS ndocs FROM pos GROUP BY g)
      |       WHERE ndocs >= 2)
      |SELECT doc_id, count(*) AS n_slots,
      |  CAST(sum(CASE WHEN dup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_slots,
      |  CAST(floor(sum(CASE WHEN dup IS NOT NULL THEN 1 ELSE 0 END)
      |    * 1000000.0 / count(*) + 0.5) AS BIGINT) AS dup_ppm
      |FROM pos LEFT JOIN dg USING (g)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C20
  /** Fixed-window chunking with overlap: 50-word windows at stride 40
    * (10-word overlap), the split step before tokenize-and-pack. The
    * md5 of each chunk's text proves byte-identical chunk boundaries
    * across engines, not just matching counts. Narrow: sequence +
    * slice per row at scan parallelism — no shuffle, no UDF. */
  def textChunk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("w"))
      .select($"doc_id", $"w",
        explode(sequence(lit(0), expr("(size(w) - 1) div 40"))).as("cid"))
      .select($"doc_id", $"cid",
        slice($"w", $"cid" * 40 + 1, lit(50)).as("cw"))
      .select($"doc_id", $"cid",
        size($"cw").cast("long").as("n_words"),
        md5(concat_ws(" ", $"cw")).as("chunk_md5"))
      .orderBy($"doc_id", $"cid")
  }
  val textChunkSql: String =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |st AS (SELECT doc_id, w, unnest(range(0, len(w), 40)) AS s FROM words),
      |c AS (SELECT doc_id, s // 40 AS cid, w[s + 1:s + 50] AS cw FROM st)
      |SELECT doc_id, cid, len(cw) AS n_words,
      |  md5(array_to_string(cw, ' ')) AS chunk_md5
      |FROM c ORDER BY doc_id, cid""".stripMargin

  // --------------------------------------------------------------- C24
  /** Corpus-IDF rarity scoring: per doc, its distinct-word count, its
    * rare-word count (document frequency ≤ 2), and the mean IDF of its
    * vocabulary — the "unusual vocabulary" quality signal (a rarity
    * spike marks OCR garbage / codes / spam; a rarity floor marks
    * boilerplate). Needs corpus-global state (the DF table), unlike the
    * doc-local C9/C18 scores.
    *
    * Determinism: per-word IDF is fixed-pointed to 1e-6 (floor) and
    * summed as BIGINT — double sums would be addition-order-sensitive
    * across engines/partitionings; the one division at the end is a
    * single IEEE op both engines share.
    *
    * 100 TB: the DF-join back is Zipf-skewed — stopword-class hot
    * words would hot-spot a hash join. Same head/tail split as C29:
    * the top-1k words by DF resolve via broadcast map-side (no
    * shuffle for most of the word volume); only the rare tail —
    * uniform-ish keys — shuffles. Equality with the plain join is
    * exactly what the oracle checks. */
  def textIdfRarity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = table(s, dir, "documents")
      .select($"doc_id", array_distinct(split($"text", " ")).as("w"))
      .transform(df => graft.Tables.spread(s, df))
    val ex = docs.select($"doc_id", explode($"w").as("word"))
    val df = ex.groupBy($"word").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    // Zipf head: tiny top-k by construction → TakeOrderedAndProject,
    // then broadcast; the tail join's keys are the rare words only
    val head = broadcast(df.orderBy($"df".desc, $"word").limit(1000)
      .withColumnRenamed("df", "df_h"))
    val tailed = ex.join(head, Seq("word"), "left")
    val resolved = tailed.filter($"df_h".isNotNull)
      .select($"doc_id", $"df_h".as("df"))
      .unionByName(tailed.filter($"df_h".isNull).select($"doc_id", $"word")
        .join(df, "word").select($"doc_id", $"df"))
    resolved.crossJoin(broadcast(n))
      .select($"doc_id", $"df",
        floor(log($"n" * lit(1.0) / $"df") * 1000000 + 0.5)
          .cast("long").as("idf_fp"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_distinct"),
        sum(when($"df" <= 2, 1L).otherwise(0L)).as("n_rare"),
        sum($"idf_fp").as("sfp"))
      .select($"doc_id", $"n_distinct", $"n_rare",
        r4($"sfp".cast("double") /
          (lit(1000000L) * $"n_distinct").cast("double")).as("idf_score"))
      .orderBy($"doc_id")
  }
  val textIdfRaritySql: String =
    """WITH w AS (SELECT doc_id,
      |    list_distinct(string_split(text, ' ')) AS w FROM documents),
      |ex AS (SELECT doc_id, unnest(w) AS word FROM w),
      |df AS (SELECT word, count(*) AS df FROM ex GROUP BY word),
      |n AS (SELECT count(*) AS n FROM documents),
      |j AS (SELECT doc_id, df.df,
      |    CAST(floor(ln(n.n * 1.0 / df.df) * 1000000 + 0.5) AS BIGINT)
      |      AS idf_fp
      |  FROM ex JOIN df USING (word) CROSS JOIN n),
      |g AS (SELECT doc_id, count(*) AS n_distinct,
      |    CAST(sum(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
      |    CAST(sum(idf_fp) AS BIGINT) AS sfp
      |  FROM j GROUP BY doc_id)
      |SELECT doc_id, n_distinct, n_rare,
      |  floor(CAST(sfp AS DOUBLE) / CAST(1000000 * n_distinct AS DOUBLE)
      |    * 10000 + 0.5) / 10000 AS idf_score
      |FROM g ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C21
  /** Sequence packing (concat-then-split): chunks are laid end-to-end
    * in deterministic (doc_id, cid) order within 8 shards and cut into
    * 512-word training sequences by offset binning — the packing pass
    * that turns a chunked corpus into fixed-length model inputs.
    * Scale: packing is per-shard (hash of doc_id), so the only wide op
    * is one window per shard partition, never a global sort; shard
    * count scales with the corpus. */
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"doc_id", $"cid")
    textChunk(s, dir)
      .select($"doc_id", $"cid", $"n_words", ($"doc_id" % 8).as("shard"))
      .withColumn("cum", sum($"n_words").over(w))
      .withColumn("seq_id", (($"cum" - $"n_words") / 512).cast("long"))
      .groupBy($"shard", $"seq_id")
      .agg(count(lit(1)).as("n_chunks"), sum($"n_words").as("n_words_total"))
      .orderBy($"shard", $"seq_id")
  }
  val packSequencesSql: String =
    s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |st AS (SELECT doc_id, w, unnest(range(0, len(w), 40)) AS s FROM words),
       |c AS (SELECT doc_id, s // 40 AS cid, len(w[s + 1:s + 50]) AS n_words,
       |    doc_id % 8 AS shard FROM st),
       |b AS (SELECT shard, doc_id, cid, n_words,
       |    sum(n_words) OVER (PARTITION BY shard ORDER BY doc_id, cid
       |      ROWS UNBOUNDED PRECEDING) AS cum FROM c)
       |SELECT shard, CAST(floor((cum - n_words) / 512) AS BIGINT) AS seq_id,
       |  count(*) AS n_chunks, CAST(sum(n_words) AS BIGINT) AS n_words_total
       |FROM b GROUP BY 1, 2 ORDER BY shard, seq_id""".stripMargin

  // --------------------------------------------------------------- C29
  /** Unigram-LM quality scoring — the CCNet/KenLM perplexity gate as a
    * first-class op: fit a corpus-wide unigram model (token frequency
    * over total tokens) and score each document by its mean token
    * negative log-likelihood, -Σ ln p(wᵢ) / n. High nll = vocabulary
    * the corpus LM finds surprising (garbage/spam), low nll =
    * boilerplate; train-data teams gate on both tails. Differs from
    * C24: token-level probability mass (multiplicity counts), not
    * document frequency.
    *
    * Determinism: per-token nll is fixed-pointed to 1e-6 (floor) and
    * summed as BIGINT (addition-order-free); one shared IEEE division
    * at the end (see C24).
    *
    * 100 TB: the token→tf join is Zipf-skewed — the few hottest words
    * carry most tokens and would hot-spot a hash join. The head/tail
    * split below is the standard fix, implemented (not just noted):
    * the top-1k words by tf resolve via broadcast map-side (no
    * shuffle for most of the token volume); only the Zipf tail — rare
    * words, uniform-ish keys — shuffles. Equality with the plain join
    * is exactly what the oracle checks. */
  def textLmScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ex = table(s, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("word"))
      .transform(df => graft.Tables.spread(s, df))
    val tf = ex.groupBy($"word").agg(count(lit(1)).as("tf"))
    val tot = ex.agg(count(lit(1)).as("t"))
    // Zipf head: tiny top-k by construction → TakeOrderedAndProject,
    // then broadcast; the tail join's keys are the rare words only
    val head = broadcast(tf.orderBy($"tf".desc, $"word").limit(1000)
      .withColumnRenamed("tf", "tf_h"))
    val tailed = ex.join(head, Seq("word"), "left")
    val resolved = tailed.filter($"tf_h".isNotNull)
      .select($"doc_id", $"tf_h".as("tf"))
      .unionByName(tailed.filter($"tf_h".isNull).select($"doc_id", $"word")
        .join(tf, "word").select($"doc_id", $"tf"))
    resolved.crossJoin(broadcast(tot))
      .select($"doc_id",
        floor(log($"t" * lit(1.0) / $"tf") * 1000000 + 0.5)
          .cast("long").as("nll_fp"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum($"nll_fp").as("sfp"))
      .select($"doc_id", $"n_tokens",
        r4($"sfp".cast("double") /
          (lit(1000000L) * $"n_tokens").cast("double")).as("nll_score"))
      .orderBy($"doc_id")
  }
  val textLmScoreSql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |tf AS (SELECT word, count(*) AS tf FROM tok GROUP BY word),
      |tot AS (SELECT count(*) AS t FROM tok),
      |j AS (SELECT doc_id,
      |    CAST(floor(ln(t * 1.0 / tf) * 1000000 + 0.5) AS BIGINT) AS nll_fp
      |  FROM tok JOIN tf USING (word) CROSS JOIN tot),
      |g AS (SELECT doc_id, count(*) AS n_tokens,
      |    CAST(sum(nll_fp) AS BIGINT) AS sfp FROM j GROUP BY doc_id)
      |SELECT doc_id, n_tokens,
      |  floor(CAST(sfp AS DOUBLE) / CAST(1000000 * n_tokens AS DOUBLE)
      |    * 10000 + 0.5) / 10000 AS nll_score
      |FROM g ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C64
  /** CCNet-style quality buckets: per detected language, split docs
    * into head/middle/tail TERCILES of the C29 unigram-LM score
    * (CCNet partitions Common Crawl by per-language LM perplexity
    * exactly this way) and report each bucket's doc count, token
    * mass, and mean NLL — the table that decides which slice of a
    * crawl is worth keeping per language.
    *
    * Determinism: tercile assignment is ntile(3) over the 4-dp NLL
    * with doc_id tie-break (total order → identical group sizes both
    * engines); bucket means are BIGINT sums of the 4-dp scores.
    *
    * Scale: C29's scoring is the dominant cost and already carries
    * its Zipf head/tail split; the ntile window is a per-language
    * sort, whose 100 TB form is the B21/C32 sketch-quantile cut
    * (two KLL cut points per language instead of a total order) —
    * exact ntile kept here for oracle exactness, the sketch is the
    * documented drop-in. */
  def textCcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val scored = textLmScore(s, dir)
      .select($"doc_id", $"n_tokens", $"nll_score")
    val langs = textLangid(s, dir).select($"doc_id", $"pred_lang")
    val w = Window.partitionBy($"pred_lang")
      .orderBy($"nll_score", $"doc_id")
    scored.join(langs, "doc_id")
      .withColumn("bucket", ntile(3).over(w).cast("long"))
      .groupBy($"pred_lang", $"bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("tokens"),
        sum(floor($"nll_score" * 10000 + 0.5).cast("long")).as("sfp"))
      .select($"pred_lang", $"bucket", $"n_docs", $"tokens",
        r4($"sfp".cast("double") / ($"n_docs" * 10000).cast("double"))
          .as("mean_nll"))
      .orderBy($"pred_lang", $"bucket")
  }
  val textCcnetBucketsSql: String = {
    val score = Markers.map { case (lang, ms) =>
      val in = ms.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), w -> w IN ($in))) AS ${lang}_score"
    }.mkString(",\n  ")
    val langCase =
      s"""SELECT doc_id,
         |  CASE
         |    WHEN en_score > 0 AND en_score >= de_score AND en_score >= es_score
         |         AND en_score >= fr_score THEN 'en'
         |    WHEN de_score > 0 AND de_score >= es_score AND de_score >= fr_score THEN 'de'
         |    WHEN es_score > 0 AND es_score >= fr_score THEN 'es'
         |    WHEN fr_score > 0 THEN 'fr'
         |    ELSE 'und' END AS pred_lang
         |  FROM (SELECT doc_id, $score FROM documents) lsc""".stripMargin
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents),
       |tf AS (SELECT word, count(*) AS tf FROM tok GROUP BY word),
       |tot AS (SELECT count(*) AS t FROM tok),
       |j AS (SELECT doc_id,
       |    CAST(floor(ln(t * 1.0 / tf) * 1000000 + 0.5) AS BIGINT) AS nll_fp
       |  FROM tok JOIN tf USING (word) CROSS JOIN tot),
       |g AS (SELECT doc_id, count(*) AS n_tokens,
       |    CAST(sum(nll_fp) AS BIGINT) AS sfp FROM j GROUP BY doc_id),
       |sc0 AS (SELECT doc_id, n_tokens,
       |    floor(CAST(sfp AS DOUBLE) / CAST(1000000 * n_tokens AS DOUBLE)
       |      * 10000 + 0.5) / 10000 AS nll_score FROM g),
       |lang AS ($langCase),
       |b AS (SELECT sc0.doc_id, n_tokens, nll_score, pred_lang,
       |    CAST(ntile(3) OVER (PARTITION BY pred_lang
       |      ORDER BY nll_score, sc0.doc_id) AS BIGINT) AS bucket
       |  FROM sc0 JOIN lang ON sc0.doc_id = lang.doc_id)
       |SELECT pred_lang, bucket, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
       |  floor(sum(CAST(floor(nll_score * 10000 + 0.5) AS BIGINT)) * 1.0
       |    / (count(*) * 10000) * 10000 + 0.5) / 10000 AS mean_nll
       |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // --------------------------------------------------------------- C37
  /** Corpus vocabulary build — the tokenizer-fit front-end: top-200
    * words by corpus frequency with rank and cumulative-coverage ppm
    * (what fraction of all tokens the vocabulary prefix explains —
    * the curve that sizes a BPE/unigram vocab). Coverage is integer
    * ppm (cum_tf × 1e6 div total), exact in both engines.
    *
    * 100 TB: the word count is ONE shuffle with map-side combine —
    * partial aggregation collapses the Zipf head per task before the
    * exchange, so no hot-key salting is needed (the classic wordcount
    * skew answer); top-K is TakeOrderedAndProject (per-partition
    * heaps, never a global sort of the vocabulary); only the 200
    * surviving rows touch the single-partition cumsum window; the
    * token total is a one-row agg, broadcast. */
  def textVocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = table(s, dir, "documents")
      .select(explode(split($"text", " ")).as("word"))
      .filter(length($"word") > 0)
      .groupBy($"word").agg(count(lit(1)).as("tf"))
    val total = counts.agg(sum($"tf").as("total_tf"))
    val top = counts.orderBy($"tf".desc, $"word").limit(200)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"tf".desc, $"word")))
      .withColumn("cum_tf", sum($"tf").over(
        org.apache.spark.sql.expressions.Window.orderBy($"rank")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
    top.crossJoin(broadcast(total))
      .select($"rank", $"word", $"tf",
        // DECIMAL(38) widen: cum_tf approaches the corpus token count
        // (~2.5e13 at 100 TB), so ×1e6 overflows a BIGINT (ANSI abort
        // / legacy wrap); DuckDB's sum() is already HUGEINT
        expr("cast(cum_tf as decimal(38,0)) * 1000000 div total_tf")
          .as("coverage_ppm"))
      .orderBy($"rank")
  }
  val textVocabSql: String =
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |f AS (SELECT word, count(*) AS tf FROM tok
      |  WHERE len(word) > 0 GROUP BY word),
      |t AS (SELECT sum(tf) AS total_tf FROM f),
      |r AS (SELECT word, tf,
      |    row_number() OVER (ORDER BY tf DESC, word) AS rank FROM f),
      |c AS (SELECT rank, word, tf,
      |    sum(tf) OVER (ORDER BY rank) AS cum_tf
      |  FROM r WHERE rank <= 200)
      |SELECT rank, word, tf,
      |  CAST(cum_tf * 1000000 // (SELECT total_tf FROM t) AS BIGINT)
      |    AS coverage_ppm
      |FROM c ORDER BY rank""".stripMargin

  // --------------------------------------------------------------- C46
  /** Shannon-entropy text signals — the information-theoretic quality
    * axis the rule gates (C40) and repetition scores (C18) only
    * approximate: char-level entropy (bits/char) separates natural
    * prose (~4.0–4.4 here) from boilerplate/padding (low) and
    * random-noise garbage (high ≈ log2 |alphabet|); word-level
    * entropy tracks vocabulary spread per document. Both computed
    * IN-ROW (distinct-element counts against the element array, the
    * C40 dominance pattern) so the whole op is one scan at full
    * parallelism, zero shuffles before the presentation sort.
    *
    * Determinism: each −p·log2 p term is computed on identical
    * doubles (ints-ratio p, natural log — the C29 precedent — and a
    * shared ln 2 literal), 1e-6 fixed-pointed, then BIGINT-summed so
    * the reduction is addition-order-free; text is ASCII-normalized
    * first (C38's convention) so char counts agree byte-vs-char.
    *
    * 100 TB: narrow; O(len · distinct) per row like C40's dominance —
    * fine at crawl/chat lengths, the sorted-run-length rewrite is the
    * book-length fallback. */
  def textEntropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ln2 = lit(0.6931471805599453)
    def entFp(arr: Column): Column =
      aggregate(transform(array_distinct(arr), x => {
        val c = size(filter(arr, y => y === x))
        floor((c * lit(1.0) / size(arr)) *
          log(size(arr) * lit(1.0) / c) / ln2 * 1000000 + 0.5).cast("long")
      }), lit(0L), _ + _)
    table(s, dir, "documents")
      .select($"doc_id",
        regexp_replace($"text", "[^\\x00-\\x7F]", "").as("t"))
      .select($"doc_id", split($"t", "").as("ch"),
        filter(split($"t", " "), w => length(w) > 0).as("w"))
      .filter(size($"ch") > 0 && size($"w") > 0)
      .select($"doc_id",
        size($"ch").cast("long").as("n_chars"),
        r4(entFp($"ch").cast("double") / 1000000).as("char_entropy"),
        size($"w").cast("long").as("n_words"),
        r4(entFp($"w").cast("double") / 1000000).as("word_entropy"))
      .orderBy($"doc_id")
  }
  val textEntropySql: String =
    """WITH a AS (SELECT doc_id,
      |    regexp_replace(text, '[^\x00-\x7f]', '', 'g') AS t
      |  FROM documents),
      |ch0 AS (SELECT doc_id,
      |    unnest([t[i] FOR i IN range(1, length(t) + 1)]) AS c FROM a),
      |cc AS (SELECT doc_id, c, count(*) AS k FROM ch0 GROUP BY 1, 2),
      |cn AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n FROM cc GROUP BY 1),
      |ce AS (SELECT cc.doc_id, sum(CAST(floor((k * 1.0 / n)
      |      * ln(n * 1.0 / k) / 0.6931471805599453 * 1000000 + 0.5)
      |    AS BIGINT)) AS fp
      |  FROM cc JOIN cn USING (doc_id) GROUP BY 1),
      |w0 AS (SELECT doc_id,
      |    unnest(list_filter(string_split(t, ' '), x -> length(x) > 0)) AS wd
      |  FROM a),
      |wc AS (SELECT doc_id, wd, count(*) AS k FROM w0 GROUP BY 1, 2),
      |wn AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n FROM wc GROUP BY 1),
      |we AS (SELECT wc.doc_id, sum(CAST(floor((k * 1.0 / n)
      |      * ln(n * 1.0 / k) / 0.6931471805599453 * 1000000 + 0.5)
      |    AS BIGINT)) AS fp
      |  FROM wc JOIN wn USING (doc_id) GROUP BY 1)
      |SELECT cn.doc_id, cn.n AS n_chars,
      |  floor(CAST(ce.fp AS DOUBLE) / 1000000 * 10000 + 0.5) / 10000
      |    AS char_entropy,
      |  wn.n AS n_words,
      |  floor(CAST(we.fp AS DOUBLE) / 1000000 * 10000 + 0.5) / 10000
      |    AS word_entropy
      |FROM cn JOIN ce USING (doc_id) JOIN wn USING (doc_id)
      |  JOIN we USING (doc_id)
      |WHERE cn.n > 0 AND wn.n > 0
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C54
  /** Language-ID confusion matrix — the audit of C8's marker-token
    * heuristic against the corpus's labeled ground truth: per (true
    * lang, predicted lang), document count and the share of the true
    * language's documents landing in that cell (ppm). This is the
    * classifier-quality card a pipeline owes any heuristic gate: it
    * shows exactly where the heuristic is blind (zh has no Latin
    * markers → predicted 'und') and what each language's hit rate is.
    *
    * 100 TB: one scan computes the marker scores + argmax in-row; the
    * matrix is langs²-tiny after one map-side-combinable shuffle; the
    * share window runs over that tiny matrix. */
  def textLangidConfusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val words = split($"text", " ")
    val scores = Markers.map { case (lang, ms) =>
      size(filter(words, w => ms.foldLeft(lit(false))((acc, m) => acc || w === m)))
        .as(s"${lang}_score")
    }
    table(s, dir, "documents").select($"lang" +: scores: _*)
      .select($"lang",
        when($"en_score" > 0 && $"en_score" >= $"de_score" &&
             $"en_score" >= $"es_score" && $"en_score" >= $"fr_score", "en")
          .when($"de_score" > 0 && $"de_score" >= $"es_score" &&
                $"de_score" >= $"fr_score", "de")
          .when($"es_score" > 0 && $"es_score" >= $"fr_score", "es")
          .when($"fr_score" > 0, "fr")
          .otherwise("und").as("pred_lang"))
      .groupBy($"lang", $"pred_lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("lang_total",
        sum($"n_docs").over(Window.partitionBy($"lang")))
      .select($"lang", $"pred_lang", $"n_docs",
        expr("n_docs * 1000000 div lang_total").as("share_ppm"))
      .orderBy($"lang", $"pred_lang")
  }
  val textLangidConfusionSql: String = {
    val score = Markers.map { case (lang, ms) =>
      val in = ms.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), w -> w IN ($in))) AS ${lang}_score"
    }.mkString(",\n  ")
    s"""WITH sc AS (SELECT lang, $score FROM documents),
       |p AS (SELECT lang,
       |    CASE
       |      WHEN en_score > 0 AND en_score >= de_score AND en_score >= es_score
       |           AND en_score >= fr_score THEN 'en'
       |      WHEN de_score > 0 AND de_score >= es_score
       |           AND de_score >= fr_score THEN 'de'
       |      WHEN es_score > 0 AND es_score >= fr_score THEN 'es'
       |      WHEN fr_score > 0 THEN 'fr'
       |      ELSE 'und' END AS pred_lang
       |  FROM sc),
       |m AS (SELECT lang, pred_lang, count(*) AS n_docs
       |  FROM p GROUP BY 1, 2)
       |SELECT lang, pred_lang, n_docs,
       |  CAST(n_docs * 1000000 // sum(n_docs) OVER (PARTITION BY lang)
       |    AS BIGINT) AS share_ppm
       |FROM m ORDER BY lang, pred_lang""".stripMargin
  }

  // --------------------------------------------------------------- C49
  /** Per-source domain signatures — the top-5 words most DISTINCTIVE
    * of each source by pointwise mutual information,
    * pmi(w, s) = ln P(w,s) / (P(w)·P(s)), with a min-count floor so
    * rare accidents don't rank. This is the "what is this domain
    * actually about" card a mixture designer reads next to C15's
    * volume stats: raw frequency surfaces stopwords, PMI surfaces the
    * vocabulary a source OVER-uses relative to the corpus.
    *
    * One token-volume shuffle total: the (source, word) count is the
    * only pass over tokens (map-side partial agg collapses the Zipf
    * head); word totals, source totals and N all re-aggregate from
    * that already-distinct table, so no join ever touches token
    * volume — the C29 head/tail problem never arises.
    *
    * Determinism: pmi computed on exact integer ratios
    * (c_sw·N vs c_w·c_s, both < 2^53), ln per C29's precedent, 1e-6
    * fixed-pointed for ranking and 4-dp for presentation; ties break
    * (pmi desc, word). */
  def textDomainSignature(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // persisted: FOUR consumers (wTot, sTot, N, the scored join) —
    // without it each branch re-explodes the token stream and the
    // "one token-volume shuffle" claim silently becomes four
    // (PlanAuditSpec asserts the cache is what the branches read);
    // lifetime bounded by the caller's clearCache
    val sw = table(s, dir, "documents")
      .select($"source", explode(split($"text", " ")).as("word"))
      .filter(length($"word") > 0)
      .groupBy($"source", $"word").agg(count(lit(1)).as("c_sw"))
      .persist()
    val wTot = sw.groupBy($"word").agg(sum($"c_sw").as("c_w"))
    val sTot = sw.groupBy($"source").agg(sum($"c_sw").as("c_s"))
    val n = sw.agg(sum($"c_sw").as("n_tokens"))
    val pmiFp = floor(log(($"c_sw" * $"n_tokens") * lit(1.0) /
      ($"c_w" * $"c_s")) * 1000000 + 0.5).cast("long")
    val scored = sw.filter($"c_sw" >= 5)
      .join(wTot, "word")
      .join(broadcast(sTot), "source")
      .crossJoin(broadcast(n))
      .withColumn("pmi_fp", pmiFp)
    scored
      .withColumn("rank", row_number().over(Window.partitionBy($"source")
        .orderBy($"pmi_fp".desc, $"word")).cast("long"))
      .filter($"rank" <= 5)
      .select($"source", $"rank", $"word", $"c_sw",
        r4($"pmi_fp".cast("double") / 1000000).as("pmi"))
      .orderBy($"source", $"rank")
  }
  val textDomainSignatureSql: String =
    """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |sw AS (SELECT source, word, count(*) AS c_sw FROM tok
      |  WHERE length(word) > 0 GROUP BY 1, 2),
      |wt AS (SELECT word, sum(c_sw) AS c_w FROM sw GROUP BY 1),
      |st AS (SELECT source, sum(c_sw) AS c_s FROM sw GROUP BY 1),
      |nt AS (SELECT sum(c_sw) AS n_tokens FROM sw),
      |sc AS (SELECT sw.source, sw.word, sw.c_sw,
      |    CAST(floor(ln((sw.c_sw * n_tokens) * 1.0 / (c_w * c_s))
      |      * 1000000 + 0.5) AS BIGINT) AS pmi_fp
      |  FROM sw JOIN wt USING (word) JOIN st USING (source)
      |  CROSS JOIN nt
      |  WHERE sw.c_sw >= 5),
      |r AS (SELECT source, word, c_sw, pmi_fp,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY pmi_fp DESC, word) AS rank
      |  FROM sc)
      |SELECT source, CAST(rank AS BIGINT) AS rank, word,
      |  CAST(c_sw AS BIGINT) AS c_sw,
      |  floor(CAST(pmi_fp AS DOUBLE) / 1000000 * 10000 + 0.5) / 10000
      |    AS pmi
      |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin

  // --------------------------------------------------------------- C42
  /** Bigram-LM quality scoring — C29's conditional upgrade: score each
    * document by mean bigram negative log-likelihood with
    * P(w|prev) = c(prev w) / c(prev), the next-n-gram step toward the
    * CCNet 5-gram KenLM gate. Catches locally-incoherent text (word
    * salad with a plausible unigram profile) that C29 cannot.
    *
    * Determinism: per-bigram nll fixed-pointed to 1e-6, BIGINT-summed
    * (C29's contract); bigram construction is narrow (in-row zip of
    * the word array with its own tail — no positional self-join).
    *
    * 100 TB: the per-bigram nll is a function of (bg) alone, so the
    * MODEL — nll per distinct bigram — is assembled first on the
    * distinct-bigram table (round-7 rework: the r6 form pushed the
    * token-volume stream through BOTH Zipf joins; now only the model
    * join touches uc, over distinct bigrams, with the C29 head/tail
    * split on the Zipf prev key). The stream then resolves in ONE
    * head/tail join against the finished model: the hot-bigram head
    * (covering most token volume) maps broadcast-side, only rare-
    * bigram occurrences shuffle. The model is persisted (tiny:
    * distinct bigrams), lifetime bounded by the caller's clearCache. */
  def textLmBigram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = table(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("w"))
      .filter(size($"w") >= 2)
      .transform(df => graft.Tables.spread(s, df))
    val bi = docs.select($"doc_id", explode(transform(
        sequence(lit(2), size($"w")),
        i => struct(element_at($"w", i - 1).as("prev"),
          concat_ws(" ", element_at($"w", i - 1), element_at($"w", i))
            .as("bg")))).as("p"))
      .select($"doc_id", $"p.prev".as("prev"), $"p.bg".as("bg"))
    val uni = docs.select(explode($"w").as("prev"))
      .groupBy($"prev").agg(count(lit(1)).as("uc"))
    val bc = bi.groupBy($"bg", $"prev").agg(count(lit(1)).as("bc"))
    val uHead = broadcast(uni.orderBy($"uc".desc, $"prev").limit(1000)
      .withColumnRenamed("uc", "uc_h"))
    val mTailed = bc.join(uHead, Seq("prev"), "left")
    val model = mTailed.filter($"uc_h".isNotNull)
      .select($"bg", $"bc", $"uc_h".as("uc"))
      .unionByName(mTailed.filter($"uc_h".isNull)
        .select($"bg", $"prev", $"bc")
        .join(uni, "prev").select($"bg", $"bc", $"uc"))
      .select($"bg", $"bc",
        floor(log($"uc" * lit(1.0) / $"bc") * 1000000 + 0.5)
          .cast("long").as("nll_fp"))
      .persist()
    val bHead = broadcast(model.orderBy($"bc".desc, $"bg").limit(1000)
      .select($"bg", $"nll_fp".as("nll_h")))
    val sTailed = bi.select($"doc_id", $"bg").join(bHead, Seq("bg"), "left")
    val resolved = sTailed.filter($"nll_h".isNotNull)
      .select($"doc_id", $"nll_h".as("nll_fp"))
      .unionByName(sTailed.filter($"nll_h".isNull)
        .select($"doc_id", $"bg")
        .join(model.select($"bg", $"nll_fp"), "bg")
        .select($"doc_id", $"nll_fp"))
    resolved
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"nll_fp").as("sfp"))
      .select($"doc_id", $"n_bigrams",
        r4($"sfp".cast("double") /
          (lit(1000000L) * $"n_bigrams").cast("double")).as("nll2_score"))
      .orderBy($"doc_id")
  }
  val textLmBigramSql: String =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w
      |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
      |bi AS (SELECT doc_id,
      |    unnest([{'prev': w[i-1], 'bg': w[i-1] || ' ' || w[i]}
      |      FOR i IN range(2, len(w) + 1)]) AS p
      |  FROM words),
      |bb AS (SELECT doc_id, p.prev AS prev, p.bg AS bg FROM bi),
      |uni AS (SELECT prev, count(*) AS uc FROM
      |  (SELECT doc_id, unnest(w) AS prev FROM words) GROUP BY 1),
      |bc AS (SELECT bg, count(*) AS bc FROM bb GROUP BY 1),
      |j AS (SELECT doc_id,
      |    CAST(floor(ln(uc * 1.0 / bc) * 1000000 + 0.5) AS BIGINT) AS nll_fp
      |  FROM bb JOIN bc USING (bg) JOIN uni USING (prev)),
      |g AS (SELECT doc_id, count(*) AS n_bigrams,
      |    CAST(sum(nll_fp) AS BIGINT) AS sfp FROM j GROUP BY 1)
      |SELECT doc_id, n_bigrams,
      |  floor(CAST(sfp AS DOUBLE) / CAST(1000000 * n_bigrams AS DOUBLE)
      |    * 10000 + 0.5) / 10000 AS nll2_score
      |FROM g ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C40
  /** Gopher-style composite quality-rule gate (Rae et al., Gopher
    * appendix A): a battery of document-shape rules evaluated in one
    * pass, each emitted as its own boolean REASON column plus the
    * combined keep — the auditable form a filtering pipeline needs
    * (how many docs failed WHICH rule), vs C9's raw scores. Rules
    * (thresholds sit at the ~2–5% tails of this corpus, so every rule
    * is non-vacuous): minimum word count, mean-word-length band,
    * top-word dominance (a boilerplate/spam signal: the most frequent
    * word's share of all tokens).
    *
    * Dominance is computed NARROW — array_max over per-distinct-word
    * counts inside the row (O(words·distinct) per doc, fine at
    * chat/crawl doc lengths; the sorted-run-length rewrite keeps it
    * O(n log n) for book-length docs) — so the whole gate is one scan
    * at full parallelism, zero shuffles before the presentation sort.
    * All rule arithmetic is exact integer/double ops identical in both
    * engines; no rounding needed before the threshold compare. */
  def textQualityRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("w"), length($"text").as("nc"))
      .select($"doc_id", size($"w").cast("long").as("n_words"),
        (($"nc" - size($"w") + 1) * lit(1.0) / size($"w")).as("mean_wl"),
        (array_max(transform(array_distinct($"w"),
            x => size(filter($"w", y => y === x)))) * lit(1.0) / size($"w"))
          .as("top_frac"))
      .select($"doc_id", $"n_words",
        ($"n_words" >= 15).as("r_len"),
        ($"mean_wl" < 4.9).as("r_shape"),
        ($"top_frac" <= 0.18).as("r_dominance"))
      .withColumn("keep", $"r_len" && $"r_shape" && $"r_dominance")
      .withColumn("n_failed",
        (when($"r_len", 0).otherwise(1) + when($"r_shape", 0).otherwise(1) +
          when($"r_dominance", 0).otherwise(1)).cast("long"))
      .orderBy($"doc_id")
  }
  // --------------------------------------------------------------- C68
  /** BPE merge-candidate mining — the inner loop of byte-pair-encoding
    * tokenizer training (Sennrich et al.), run the way a corpus-scale
    * trainer must: adjacent-symbol pair counts are assembled on the
    * DISTINCT word table weighted by word frequency, never on the
    * token stream. Output: every character pair with its corpus count
    * and merge rank (count desc, pair asc — rank 1 is the pair the
    * first BPE merge would create).
    *
    * 100 TB: the word-frequency rollup is ONE map-side-combinable
    * shuffle (the wordcount shape — partial agg collapses the Zipf
    * head per task, same argument as C37); pair explode then runs
    * over the VOCABULARY (≤ millions of rows) not the corpus
    * (trillions of tokens), and the pair rollup's key space is
    * alphabet², so it combines map-side to nothing. Later BPE
    * iterations rewrite only words containing the merged pair — a
    * vocabulary-sized join, same scaling. */
  def textBpePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = table(s, dir, "documents")
      .select(explode(split($"text", " ")).as("word"))
      .filter(length($"word") > 0)
      .groupBy($"word").agg(count(lit(1)).as("tf"))
    val agg = tf.filter(length($"word") >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(word)-1), i -> substring(word, i, 2))"))
        .as("pair"), $"tf")
      .groupBy($"pair").agg(sum($"tf").as("n"))
    agg.select(
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy($"n".desc, $"pair")).cast("long").as("rank"),
        $"pair", $"n")
      .orderBy($"rank")
  }
  val textBpePairsSql: String =
    """WITH tf AS (
      |  SELECT word, count(*) AS tf
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE length(word) > 0 GROUP BY 1),
      |pairs AS (
      |  SELECT unnest([word[i:i+1] FOR i IN range(1, length(word))]) AS pair, tf
      |  FROM tf WHERE length(word) >= 2),
      |agg AS (SELECT pair, CAST(sum(tf) AS BIGINT) AS n FROM pairs GROUP BY 1)
      |SELECT row_number() OVER (ORDER BY n DESC, pair) AS rank, pair, n
      |FROM agg ORDER BY rank""".stripMargin

  // --------------------------------------------------------------- C81
  /** BPE merge APPLY — the iterative half of tokenizer training that
    * C68's single-round mining left open (r9 verdict item 5): run
    * [[BpeSteps]] TRUE byte-pair-encoding rounds over the distinct-word
    * table (Sennrich et al.), where each round recounts adjacent-symbol
    * pairs on the CURRENT segmentation, merges the winner corpus-wide,
    * and the next round sees the merged symbols. Output: one row per
    * round — the merged pair, its count at selection time, and the
    * re-tokenized corpus stats after the merge (total token count drops
    * monotonically; distinct symbol types trace vocabulary growth) —
    * the tokenizer-fit curve C37/C68 opened.
    *
    * Mechanics: a word's segmentation is a STRING with every symbol
    * boundary spelled as a double separator (`␁␁a␁␁b␁␁` for "ab",
    * ␁ = U+0001, filtered out of the vocabulary up front so it can
    * never occur in data). One merge of (l, r) is then a plain
    * `replace(seq, ␁l␁␁r␁, ␁lr␁)` — both engines' `replace` is greedy
    * left-to-right non-overlapping, which IS the BPE merge rule
    * (`aaaa` → `aa|aa`, `aaa` → `aa|a`), and the half-consumed
    * boundary separators make a partial-symbol match impossible (a
    * pattern can only match where ␁ sits on both flanks of each
    * symbol). The winning pair is the round's ONE driver round-trip —
    * a single (l, r, n) row per round, the bounded iterative-trainer
    * pattern (dedup_cluster's per-round count, IVF's Lloyd loop);
    * collecting it keeps every round's lineage LINEAR. The first cut
    * of this operator kept the winner in-plan as a cross-broadcast
    * 1-row aggregate instead, and that was a measured mistake: the
    * winner subplan embeds the previous vocabulary's lineage, so each
    * round's plan contained TWO copies of the round before it —
    * exponential (2^rounds) analysis cost, ~15 s at sf0.001 with the
    * time data-INDEPENDENT (pure driver planning). The pair TABLE
    * never leaves the executors either way.
    *
    * Determinism: pair counts are integral; ties break on the binary
    * string order of (l, r) in both engines; the trajectory is
    * therefore exactly replayable — the DuckDB oracle re-runs the
    * identical [[BpeSteps]] unrolled rounds and must match rank, pair,
    * count, and both curve columns.
    *
    * 100 TB: everything after the ONE corpus-sized word-frequency
    * rollup runs on the VOCABULARY (millions of rows, Zipf-capped),
    * not the corpus; each round is a vocab-local map (the replace) +
    * two map-side-combinable vocab rollups, and the driver traffic is
    * exactly two BOUNDED rows per round — the (l, r, n) winner and the
    * 1-row curve point. Collecting the curve point (rather than
    * union-ing six lazy per-round subplans) makes the final result a
    * literal [[BpeSteps]]-row frame AND materializes each new
    * vocabulary generation as it is built, so the superseded
    * generation unpersists immediately: steady-state cache is ≤ 2
    * vocab copies, not all [[BpeSteps]]+1 (r10 review finding — the
    * lazy-union form kept every generation resident because earlier
    * rounds' stats frames were only evaluated at the caller's final
    * action). */
  val BpeSteps = 6
  def textBpeApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Sep = "\u0001"
    val B = Sep + Sep
    val symsExpr = expr(
      s"filter(split(seq, '$B'), x -> length(x) > 0)")
    val tf = table(s, dir, "documents")
      .select(explode(split($"text", " ")).as("word"))
      .filter(length($"word") > 0 && !$"word".contains(Sep))
      .groupBy($"word").agg(count(lit(1)).as("tf"))
    var vocab = tf.select($"tf", concat(lit(B),
        array_join(expr(
          "transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
          B),
        lit(B)).as("seq"))
      .persist()
    val stepRows = scala.collection.mutable
      .ArrayBuffer.empty[(Long, String, String, String, Long, Long, Long)]
    // BOUNDED collect: exactly one (l, r, n) winner row per round (see
    // Scaladoc: the in-plan broadcast alternative doubles the lineage
    // per round); the pair table stays on the executors.
    def winnerFrame(v: DataFrame): DataFrame =
      v.select($"tf", symsExpr.as("sy"))
        .filter(size($"sy") >= 2)
        .select($"tf", explode(expr(
          "transform(sequence(1, size(sy) - 1), i -> named_struct(" +
            "'l', element_at(sy, i), 'r', element_at(sy, i + 1)))")).as("p"))
        .groupBy($"p.l".as("l"), $"p.r".as("r")).agg(sum($"tf").as("n"))
        .orderBy($"n".desc, $"l", $"r").limit(1)
    // Round-0 winner is its own (bounded, 1-row) job; every later
    // winner piggybacks on the stats job below.
    var best: Option[(String, String, Long)] = winnerFrame(vocab).collect()
      .headOption.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // An empty round-0 winner (empty corpus, or every word a single
    // symbol) means production BPE training STOPS — emit the rounds
    // completed so far, possibly zero (r12, softened from a named
    // error: an empty upstream partition is a routine state, not a
    // caller bug). This is bit-exactly what the oracle computes: its
    // round-k winner CTE b$k is empty, the per-round output row CROSS
    // JOINs b$k away, and v$k = v$(k-1) CROSS JOIN b$k kills every
    // later round too.
    var k = 1
    while (k <= BpeSteps && best.nonEmpty) {
      val (l, r, n) = best.get
      val prev = vocab
      vocab = prev
        .select($"tf", replace($"seq",
          lit(Sep + l + B + r + Sep), lit(Sep + l + r + Sep)).as("seq"))
        .persist()
      // ONE job per round (r17, r16 verdict task 8 — was two): the
      // round's stats rollup and the NEXT round's winner election both
      // scan the same freshly-persisted vocabulary generation, so they
      // union into a single ≤2-row collect. Values are identical to the
      // two-job form — same aggregates over the same generation, same
      // (n desc, l, r) tie-break inside the winner subtree's limit —
      // so the trajectory and the oracle's unrolled-CTE mirror are
      // untouched; only the per-round job count halves (12 → 7 jobs
      // per query at BpeSteps = 6). Each exploded symbol INSTANCE
      // contributes its word's tf, so sum(tf) over the explode IS
      // total_tokens (= Σ tf·|symbols|) and the same frame feeds the
      // distinct-type count — no second vocab pass. The collect
      // materializes the NEW generation's persist, after which the
      // superseded generation is safely dropped (nothing reads it
      // again — earlier rounds' curve points are already local rows).
      // The LAST round skips the dead winner subtree.
      val statsF = vocab.select($"tf", explode(symsExpr).as("s"))
        .agg(sum($"tf").as("total_tokens"), countDistinct($"s").as("n_types"))
        .select(lit("s").as("kind"), lit(null).cast("string").as("l"),
          lit(null).cast("string").as("r"), lit(null).cast("long").as("n"),
          $"total_tokens", $"n_types")
      val combined =
        if (k == BpeSteps) statsF
        else statsF.unionByName(winnerFrame(vocab)
          .select(lit("w").as("kind"), $"l", $"r", $"n",
            lit(null).cast("long").as("total_tokens"),
            lit(null).cast("long").as("n_types")))
      val rows = combined.collect()
      prev.unpersist()
      val st = rows.find(_.getString(0) == "s").get
      stepRows += ((k.toLong, l, r, l + r, n, st.getLong(4), st.getLong(5)))
      best = rows.find(_.getString(0) == "w")
        .map(w => (w.getString(1), w.getString(2), w.getLong(3)))
      k += 1
    }
    vocab.unpersist()
    stepRows.toSeq
      .toDF("step", "l", "r", "merged", "pair_n", "total_tokens", "n_types")
      .orderBy($"step")
  }
  /** Oracle: the identical [[BpeSteps]]-round trajectory, unrolled as
    * generated per-round CTEs (encode → pair-count → 1-row winner →
    * replace → curve stats) — a wrong count, tie-break, merge
    * boundary, or curve point on EITHER engine breaks the match. */
  val textBpeApplySql: String = {
    val sepSql = "chr(1)"
    val bSql = s"$sepSql||$sepSql"
    val steps = (1 to BpeSteps).map { k =>
      s"""ex$k AS (SELECT tf, list_filter(string_split(seq, $bSql),
         |    x -> length(x) > 0) AS sy FROM v${k - 1}),
         |pr$k AS (SELECT tf,
         |    unnest([sy[i] FOR i IN range(1, len(sy))]) AS l,
         |    unnest([sy[i+1] FOR i IN range(1, len(sy))]) AS r
         |  FROM ex$k WHERE len(sy) >= 2),
         |pc$k AS (SELECT l, r, CAST(sum(tf) AS BIGINT) AS n
         |  FROM pr$k GROUP BY 1, 2),
         |b$k AS (SELECT l, r, n FROM pc$k ORDER BY n DESC, l, r LIMIT 1),
         |v$k AS (SELECT tf, replace(seq,
         |    $sepSql||l||$bSql||r||$sepSql, $sepSql||l||r||$sepSql) AS seq
         |  FROM v${k - 1} CROSS JOIN b$k),
         |st$k AS (SELECT tf, list_filter(string_split(seq, $bSql),
         |    x -> length(x) > 0) AS sy FROM v$k),
         |s$k AS (SELECT CAST(sum(tf * len(sy)) AS BIGINT) AS total_tokens
         |  FROM st$k),
         |t$k AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS n_types
         |  FROM (SELECT unnest(sy) AS s FROM st$k))""".stripMargin
    }.mkString(",\n")
    val rows = (1 to BpeSteps).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS step, l, r, l||r AS merged,
         |  n AS pair_n, total_tokens, n_types
         |FROM b$k CROSS JOIN s$k CROSS JOIN t$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH tf AS (
       |  SELECT word, count(*) AS tf
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) > 0 AND strpos(word, chr(1)) = 0 GROUP BY 1),
       |v0 AS (SELECT tf, $bSql || array_to_string(
       |    [word[i:i] FOR i IN range(1, length(word) + 1)], $bSql)
       |    || $bSql AS seq FROM tf),
       |$steps
       |$rows
       |ORDER BY step""".stripMargin
  }

  // --------------------------------------------------------------- C71
  /** BM25 top-k retrieval (Robertson/Spärck Jones; the Lucene-variant
    * IDF ln((N-df+0.5)/(df+0.5)+1), k1=1.2, b=0.75) — the lexical
    * search path over the corpus: for each probe query, the 10
    * highest-scoring documents. The index side is the classic
    * postings build: one (doc, word) tf rollup; df/N/avgdl
    * re-aggregate FROM the tf table, so nothing scans the corpus
    * twice.
    *
    * Determinism: IDF is fixed-pointed to 1e-6 BIGINT; the tf
    * saturation term is one shared IEEE expression over integer
    * inputs (tf, dl, N, Σdl), so per-(doc,term) partial scores are
    * bit-identical; doc score = BIGINT sum (order-free), rank ties
    * break on doc_id.
    *
    * 100 TB: the tf rollup is the only corpus-sized shuffle
    * (map-side-combinable). The query set is tiny and BROADCAST onto
    * the postings — scoring touches only postings of query terms
    * (semi-join prune), and top-10-per-query is a bounded heap
    * (window over candidates of ≤|terms| postings lists, the B16
    * TopKAgg swap documented for fat result sets). */
  def textBm25Topk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probes = Seq(
      (1L, "hash join merge"), (2L, "stream window batch"),
      (3L, "vector scan"), (4L, "slow query filter sort"))
    val terms = broadcast(probes.toDF("query_id", "q")
      .select($"query_id", explode(split($"q", " ")).as("word")))
    val words = table(s, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("word"))
      .filter(length($"word") > 0)
    val tf = words.groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
    val df = tf.groupBy($"word").agg(count(lit(1)).as("df"))
    val tot = dl.agg(count(lit(1)).as("n"), sum($"dl").as("sdl"))
    val idf = df.crossJoin(broadcast(tot))
      .select($"word", $"n", $"sdl",
        floor(log(($"n" - $"df" + 0.5) / ($"df" + 0.5) + 1.0) * 1000000 + 0.5)
          .cast("long").as("idf_fp"))
    val scored = tf.join(terms, "word")
      .join(idf, "word")
      .join(dl, "doc_id")
      .select($"query_id", $"doc_id",
        // saturation over exact integer inputs: identical IEEE ops both sides
        floor($"idf_fp" * ($"tf" * 2.2 /
          ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" * $"n" / $"sdl"))) + 0.5)
          .cast("long").as("part_fp"))
      .groupBy($"query_id", $"doc_id")
      .agg(sum($"part_fp").as("score_fp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"score_fp".desc, $"doc_id")
    scored
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 10)
      .select($"query_id", $"rank", $"doc_id", $"score_fp")
      .orderBy($"query_id", $"rank")
  }
  val textBm25TopkSql: String =
    """WITH probes AS (SELECT * FROM (VALUES
      |    (1, 'hash join merge'), (2, 'stream window batch'),
      |    (3, 'vector scan'), (4, 'slow query filter sort'))
      |    AS t(query_id, q)),
      |terms AS (SELECT query_id, unnest(string_split(q, ' ')) AS word
      |  FROM probes),
      |wx AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM wx
      |  WHERE length(word) > 0 GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |  FROM tf GROUP BY 1),
      |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
      |tot AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sdl FROM dl),
      |idf AS (SELECT word, n, sdl,
      |    CAST(floor(ln((n - df + 0.5) / (df + 0.5) + 1.0) * 1000000 + 0.5)
      |      AS BIGINT) AS idf_fp
      |  FROM df CROSS JOIN tot),
      |sc AS (SELECT query_id, doc_id,
      |    CAST(sum(CAST(floor(idf_fp * (tf * 2.2 /
      |      (tf + 1.2 * (0.25 + 0.75 * dl * n / sdl))) + 0.5) AS BIGINT))
      |      AS BIGINT) AS score_fp
      |  FROM tf JOIN terms USING (word) JOIN idf USING (word)
      |  JOIN dl USING (doc_id)
      |  GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY score_fp DESC, doc_id) AS rank FROM sc)
      |SELECT query_id, rank, doc_id, score_fp
      |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  val textQualityRulesSql: String =
    """WITH b AS (SELECT doc_id, string_split(text, ' ') AS w,
      |    length(text) AS nc FROM documents),
      |m AS (SELECT doc_id, len(w) AS n_words,
      |    (nc - len(w) + 1) * 1.0 / len(w) AS mean_wl,
      |    list_max(list_transform(list_distinct(w),
      |      x -> len(list_filter(w, y -> y = x)))) * 1.0 / len(w) AS top_frac
      |  FROM b)
      |SELECT doc_id, n_words,
      |  n_words >= 15 AS r_len,
      |  mean_wl < 4.9 AS r_shape,
      |  top_frac <= 0.18 AS r_dominance,
      |  (n_words >= 15 AND mean_wl < 4.9 AND top_frac <= 0.18) AS keep,
      |  CAST((CASE WHEN n_words >= 15 THEN 0 ELSE 1 END)
      |    + (CASE WHEN mean_wl < 4.9 THEN 0 ELSE 1 END)
      |    + (CASE WHEN top_frac <= 0.18 THEN 0 ELSE 1 END) AS BIGINT)
      |    AS n_failed
      |FROM m ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C76
  /** Cross-document duplicated-SPAN removal with rewrite (the C4 /
    * Dolma "remove duplicated lines across the corpus, keep one copy"
    * stage — the corpus here has no newlines, so the span unit is the
    * non-overlapping 10-word window). Unlike the detection-side ops
    * (C28/C33/C65 flag or score), this one REWRITES: a span appearing
    * in ≥2 distinct docs survives only in its keeper (min doc_id);
    * every other doc loses it and is re-emitted without it. Output is
    * compact (per-doc span counts + md5 of the rebuilt text); docs
    * whose every span was stripped drop out, as C4 drops empty lines.
    *
    * Scale shape — document text never shuffles: (1) spans are
    * derived IN-ROW and only (doc_id, pos, md5) leaves the scan — a
    * narrow rollup keyed on the span hash (partial-distinct combines
    * map-side); (2) the hot set (df≥2 → keeper) is
    * duplication-bounded and broadcasts; (3) the drop-list
    * (doc_id → dropped positions) comes from the hash-only span table
    * ⋈ broadcast hot — its volume is the duplicate count, ints only —
    * and broadcasts back onto the documents scan; (4) the rebuild
    * (filter spans by dropped position, re-join words) runs in-row at
    * scan parallelism. Worst case (100%-dup corpus) the drop-list is
    * ~span-count ints — still no text bytes in any exchange. At 100 TB
    * swap md5 for xxhash64 (shuffle 8 bytes, not 32-char hex; md5 here
    * because the DuckDB oracle shares it). */
  def textSpanDedup(s: SparkSession, dir: String): DataFrame =
    spanDedupCore(s, table(s, dir, "documents"))

  /** [[textSpanDedup]]'s engine over any (doc_id, text) frame — split
    * out so the property spec can drive arbitrary corpora through it. */
  private[ops] def spanDedupCore(s: SparkSession, docsIn: DataFrame): DataFrame = {
    import s.implicits._
    val docs = docsIn
      .select($"doc_id", split($"text", " ").as("w"))
    val spans = docs
      .select($"doc_id", expr(
        """transform(sequence(0, cast(ceil(size(w) / 10.0) as int) - 1),
          |  i -> md5(array_join(slice(w, i * 10 + 1, 10), ' ')))"""
          .stripMargin).as("hs"))
      .select($"doc_id", posexplode($"hs"))
      .toDF("doc_id", "pos", "h")
    val hot = spans.groupBy($"h")
      .agg(countDistinct($"doc_id").as("df"), min($"doc_id").as("keeper"))
      .filter($"df" >= 2)
      .select($"h", $"keeper")
    val drops = spans.join(broadcast(hot), "h")
      .filter($"doc_id" =!= $"keeper")
      .groupBy($"doc_id")
      .agg(collect_set($"pos").as("drop_pos"))
    docs.join(broadcast(drops), Seq("doc_id"), "left")
      .withColumn("drop_pos", coalesce($"drop_pos", array()))
      .select($"doc_id",
        expr("cast(ceil(size(w) / 10.0) as bigint)").as("n_spans"),
        size($"drop_pos").cast("long").as("n_dropped"),
        expr(
          """md5(array_join(flatten(transform(
            |  filter(sequence(0, cast(ceil(size(w) / 10.0) as int) - 1),
            |    i -> NOT array_contains(drop_pos, i)),
            |  i -> slice(w, i * 10 + 1, 10))), ' '))""".stripMargin)
          .as("new_digest"))
      .filter($"n_dropped" < $"n_spans")
      .orderBy($"doc_id")
  }
  val textSpanDedupSql: String =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w
      |  FROM documents),
      |spans AS (SELECT doc_id, i AS pos,
      |    md5(array_to_string(w[i * 10 + 1 : i * 10 + 10], ' ')) AS h
      |  FROM words,
      |    UNNEST(range(CAST(ceil(len(w) / 10.0) AS BIGINT))) AS t(i)),
      |hot AS (SELECT h, min(doc_id) AS keeper FROM spans
      |  GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      |dl AS (SELECT s.doc_id, list(s.pos) AS drop_pos FROM spans s
      |  JOIN hot ON s.h = hot.h WHERE s.doc_id <> hot.keeper
      |  GROUP BY s.doc_id),
      |rebuilt AS (SELECT words.doc_id,
      |    CAST(ceil(len(w) / 10.0) AS BIGINT) AS n_spans,
      |    CAST(len(coalesce(drop_pos, [])) AS BIGINT) AS n_dropped,
      |    md5(array_to_string(flatten(list_transform(
      |      list_filter(range(CAST(ceil(len(w) / 10.0) AS BIGINT)),
      |        i -> NOT list_contains(coalesce(drop_pos, []), i)),
      |      i -> w[i * 10 + 1 : i * 10 + 10])), ' ')) AS new_digest
      |  FROM words LEFT JOIN dl ON words.doc_id = dl.doc_id)
      |SELECT doc_id, n_spans, n_dropped, new_digest
      |FROM rebuilt WHERE n_dropped < n_spans ORDER BY doc_id""".stripMargin
}
