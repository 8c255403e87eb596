package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.Tables.{load => t}
import graft.functions.{StripAccents, WordShingles}

import QueryDef.{dec, spread, toksOf}

/** Corpus and training-data text gates over `documents`: tokenization
  * and normalization, vocabulary and quality statistics, language and
  * source diagnostics, and the end-to-end curation pipeline audits.
  */
object TextGates {

  // ---------------------------------------------------------------- text quality stats
  private val q25 = QueryDef(
    "q25_text_stats",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val tk = toksOf(col("text"))
      val stop = size(filter(tk,
        tok => tok.isin("the", "a", "and", "of", "to")))
      d.select(
          col("lang"),
          length(col("text")).as("chars"),
          size(tk).as("n_tokens"),
          stop.as("n_stop"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("chars")).as("total_chars"),
          sum(col("n_tokens")).as("total_tokens"),
          (sum(col("chars")).cast("double") / sum(col("n_tokens")))
            .as("avg_token_len"),
          (sum(col("n_stop")).cast("double") / sum(col("n_tokens")))
            .as("stopword_ratio"),
          sum(when(col("n_tokens") >= 50, 1).otherwise(0)).as("n_long_docs"))
        .orderBy("lang")
    },
    Some("""WITH d AS (
        SELECT lang, length(text) AS chars,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ('the', 'a', 'and', 'of', 'to'))) AS n_stop
        FROM documents)
      SELECT lang,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(chars) AS BIGINT) AS total_chars,
        CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        CAST(SUM(chars) AS DOUBLE) / SUM(n_tokens) AS avg_token_len,
        CAST(SUM(n_stop) AS DOUBLE) / SUM(n_tokens) AS stopword_ratio,
        CAST(SUM(CASE WHEN n_tokens >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_long_docs
      FROM d GROUP BY lang ORDER BY lang"""),
    covers = Seq("TEXT-quality"))

  // ---------------------------------------------------------------- language-id heuristic
  // Marker-stopword n-gram heuristic; the CASE order is part of the
  // contract (first match wins in both engines).
  private val q26 = QueryDef(
    "q26_lang_id",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val padded = concat(lit(" "), lower(col("text")), lit(" "))
      def has(words: String*): Column =
        words.map(w => padded.contains(s" $w ")).reduce(_ || _)
      val pred = when(has("der", "und", "nicht", "das"), "de")
        .when(has("el", "los", "las", "una"), "es")
        .when(has("le", "les", "des", "une"), "fr")
        .when(has("de", "het", "een", "niet"), "nl")
        .when(has("the", "and", "of", "is"), "en")
        .otherwise("unknown")
      d.select(col("lang"), pred.as("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang")
    },
    Some {
      def has(words: Seq[String]): String =
        words.map(w => s"contains(' ' || lower(text) || ' ', ' $w ')")
          .mkString("(", " OR ", ")")
      s"""SELECT lang,
        CASE WHEN ${has(Seq("der", "und", "nicht", "das"))} THEN 'de'
             WHEN ${has(Seq("el", "los", "las", "una"))} THEN 'es'
             WHEN ${has(Seq("le", "les", "des", "une"))} THEN 'fr'
             WHEN ${has(Seq("de", "het", "een", "niet"))} THEN 'nl'
             WHEN ${has(Seq("the", "and", "of", "is"))} THEN 'en'
             ELSE 'unknown' END AS pred_lang,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2 ORDER BY lang, pred_lang"""
    },
    covers = Seq("TEXT-langid"))

  // ---------------------------------------------------------------- token counting
  // BPE-ish regex token counting: words / numbers / single symbols.
  private val q27 = QueryDef(
    "q27_token_count",
    (s, dir) => {
      val d = spread(s, t(s, dir, "documents"))
      val bpeish = size(regexp_extract_all(
        lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
      d.groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(bpeish).as("total_bpeish_tokens"),
          sum(size(toksOf(col("text")))).as("total_ws_tokens"),
          max(bpeish).as("max_doc_tokens"),
          (sum(bpeish).cast("double") / count(lit(1))).as("avg_doc_tokens"))
        .orderBy("source")
    },
    Some("""SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS total_bpeish_tokens,
      CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
      CAST(MAX(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS INTEGER) AS max_doc_tokens,
      CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS DOUBLE) / COUNT(*) AS avg_doc_tokens
      FROM documents GROUP BY source ORDER BY source"""),
    covers = Seq("TEXT-tokens"))

  // ---------------------------------------------------------------- fingerprinting
  // Rolling 5-char shingle fingerprint = lexicographic min of shingle
  // md5s — a winnowing-style document signature, computed without an
  // explode via array HOFs.
  private val q28 = QueryDef(
    "q28_fingerprint",
    (s, dir) => {
      val d = spread(s, t(s, dir, "documents"))
      val fp = array_min(transform(
        sequence(lit(1), length(col("text")) - 4),
        i => md5(col("text").substr(i, lit(5)))))
      d.filter(length(col("text")) >= 5)
        .select(col("doc_id"), fp.as("fingerprint"))
        .groupBy("fingerprint")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"))
        .orderBy("fingerprint")
    },
    Some("""WITH fp AS (
        SELECT doc_id,
          list_aggregate(list_transform(range(1, greatest(length(text) - 3, 1)),
            i -> md5(substr(text, i, 5))), 'min') AS fingerprint
        FROM documents WHERE length(text) >= 5)
      SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(MIN(doc_id) AS BIGINT) AS min_doc
      FROM fp GROUP BY fingerprint ORDER BY fingerprint"""),
    covers = Seq("TEXT-fingerprint"))

  // ------------------------------------------------------------ TF-IDF
  // Classic sparse-matrix shape: explode → tf/df aggregates → scored
  // join → per-doc top-k. idf kept as the rational N/df (ln() differs
  // in the last ULP between libm implementations, so no logarithm in
  // a hash-gated query).
  private val q52 = QueryDef(
    "q52_tfidf_topterms",
    (s, dir) => {
      val d = spread(s, t(s, dir, "documents"))
      val tok = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      // tf rows are DISTINCT (doc, term) pairs by construction, so df
      // is a plain count over tf — one aggregation of the token
      // explode total, not two, and no countDistinct dedup pass over
      // the raw postings (which at 100 TB is the larger-by-far frame)
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .persist() // feeds both df and the scored join
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nd = d.agg(count(lit(1)).as("nn"))
      val scored = tf.join(df, "term")
        .crossJoin(broadcast(nd))
        .withColumn("score",
          col("tf").cast("double") * (col("nn").cast("double") / col("df").cast("double")))
        .select("doc_id", "term", "tf", "df", "score")
      // per-doc top-3 via the bounded-heap operator — partial heaps
      // cap the shuffle at 3 rows/doc/partition instead of sorting
      // every doc's full term list under a window
      graft.plans.TopKPerKey.perKey(scored, Seq("doc_id"),
          Seq(desc("score"), asc("term")), 3, rankName = "rk")
        .select("doc_id", "term", "tf", "df", "score", "rk")
        .orderBy("doc_id", "rk")
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
      df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY 1),
      nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
      scored AS (SELECT doc_id, term, tf, df,
        CAST(tf AS DOUBLE) * (CAST(nn AS DOUBLE) / CAST(df AS DOUBLE)) AS score
        FROM tf JOIN df USING (term) CROSS JOIN nd),
      ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk FROM scored)
      SELECT doc_id, term, tf, df, score, CAST(rk AS BIGINT) AS rk
      FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk"""),
    covers = Seq("TEXT-tfidf"))

  // ------------------------------------------------------------ stopword removal
  // Corpus cleaning: strip function words before dedup/fingerprinting
  // so near-dup comparison weighs content words. Pure lambda filter —
  // no explode, no join against a stopword table for a list this
  // small (a broadcast join only wins once the list is thousands of
  // entries).
  private val q86 = QueryDef(
    "q86_stopword_removal",
    (s, dir) => {
      val stop = typedlit(Seq("the", "a", "of", "and", "to", "in", "is"))
      val d = t(s, dir, "documents")
      val kept = filter(split(col("text"), " "), x => !array_contains(stop, x))
      d.select(
          col("doc_id"),
          size(split(col("text"), " ")).as("n_tokens"),
          size(kept).as("n_kept"),
          array_join(slice(kept, 1, 5), " ").as("head_clean"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      f AS (SELECT doc_id, tk,
        list_filter(tk, x -> NOT list_contains(
          ['the','a','of','and','to','in','is'], x)) AS kept
        FROM t)
      SELECT doc_id,
        CAST(len(tk) AS INTEGER) AS n_tokens,
        CAST(len(kept) AS INTEGER) AS n_kept,
        array_to_string(kept[1:5], ' ') AS head_clean
      FROM f ORDER BY doc_id"""),
    covers = Seq("TXT-stopwords"))

  // ------------------------------------------------------------ PII redaction
  // Pre-training redaction: emails and phone numbers (planted
  // deterministically so the oracle can check the count AND the
  // rewritten text) replaced with typed placeholder tags. Two chained
  // regexp_replace passes — at 100 TB this is a narrow map over the
  // corpus, no shuffle at all.
  private val q87 = QueryDef(
    "q87_pii_redact",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val planted = d.select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 06-"),
          lpad(col("doc_id").cast("string"), 8, "0")).as("txt"))
      val clean = regexp_replace(
        regexp_replace(col("txt"), "[a-z0-9.]+@[a-z0-9.]+", "<EMAIL>"),
        "06-[0-9]{8}", "<PHONE>")
      planted.select(
          col("doc_id"),
          regexp_count(col("txt"), lit("[a-z0-9.]+@[a-z0-9.]+")).as("n_emails"),
          regexp_count(col("txt"), lit("06-[0-9]{8}")).as("n_phones"),
          length(clean).as("clean_len"),
          substring(clean, -16, 16).as("tail"))
        .orderBy("doc_id")
    },
    Some("""WITH planted AS (
        SELECT doc_id,
          concat(text, ' contact user', CAST(doc_id AS VARCHAR),
            '@example.com or 06-', lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS txt
        FROM documents),
      red AS (
        SELECT doc_id, txt,
          regexp_replace(regexp_replace(txt,
            '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
            '06-[0-9]{8}', '<PHONE>', 'g') AS clean
        FROM planted)
      SELECT doc_id,
        CAST(len(regexp_extract_all(txt, '[a-z0-9.]+@[a-z0-9.]+')) AS INTEGER) AS n_emails,
        CAST(len(regexp_extract_all(txt, '06-[0-9]{8}')) AS INTEGER) AS n_phones,
        CAST(len(clean) AS INTEGER) AS clean_len,
        right(clean, 16) AS tail
      FROM red ORDER BY doc_id"""),
    covers = Seq("TXT-pii"))

  // ------------------------------------------------------------ bigram counts
  // n-gram language-model statistics: adjacent-token pairs built
  // in-row (no self-join on position), then one count shuffle and a
  // per-language top-5.
  private val q90 = QueryDef(
    "q90_bigrams",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 2) // sequence(1,0) would descend
      val bigrams = d.select(col("lang"),
        explode(expr(
          "transform(sequence(1, size(tk) - 1), " +
            "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"))
          .as("bigram"))
      val counts = bigrams.groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("lang").orderBy(desc("n"), col("bigram"))
      counts.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .orderBy("lang", "rk")
    },
    Some("""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tk
               FROM documents WHERE len(string_split(text, ' ')) >= 2),
      b AS (SELECT lang, unnest(list_zip(tk[1:len(tk)-1], tk[2:len(tk)])) AS bg FROM t),
      c AS (SELECT lang, bg[1] || ' ' || bg[2] AS bigram, COUNT(*) AS n
            FROM b GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rk
            FROM c)
      SELECT lang, bigram, CAST(n AS BIGINT) AS n, CAST(rk AS BIGINT) AS rk
      FROM r WHERE rk <= 5 ORDER BY lang, rk"""),
    covers = Seq("TXT-bigrams"))

  // --------------------------------------------- repetition quality filter
  // Gopher-style repetition stats per document: duplicate-word
  // fraction, most-common-word share, most-common-bigram share, and
  // the keep/drop verdict a pretraining cleaning pass would apply.
  // All ratios are single divisions of exact integer counts, so the
  // doubles (and the threshold comparisons on them) are bit-identical
  // across engines. One explode for words, one for bigrams; both
  // aggregate before the join, so the shuffle carries per-doc stats,
  // not tokens.
  private val q97 = QueryDef(
    "q97_repetition",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val tk = d.select(col("doc_id"), split(col("text"), " ").as("tk"))
      val wc = tk.select(col("doc_id"), explode(col("tk")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      val stats = wc.groupBy("doc_id").agg(
        sum("c").as("n_words"),
        count(lit(1)).as("n_distinct"),
        max("c").as("max_word"))
      val bigrams = tk.select(col("doc_id"),
        explode(when(size(col("tk")) >= 2,
          transform(sequence(lit(1), size(col("tk")) - 1),
            i => concat_ws(" ", element_at(col("tk"), i), element_at(col("tk"), i + 1))))
          .otherwise(array())).as("bg"))
      val bstats = bigrams.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("max_bigram"), sum("c").as("n_bigrams"))
      val repFrac = (col("n_words") - col("n_distinct")).cast("double") / col("n_words")
      val topWord = col("max_word").cast("double") / col("n_words")
      val topBigram = col("max_bigram").cast("double") / col("n_bigrams")
      stats.join(bstats, "doc_id")
        .select(col("doc_id"), col("n_words"), col("n_distinct"),
          col("max_word"), col("max_bigram"),
          repFrac.as("rep_word_frac"),
          topWord.as("top_word_frac"),
          topBigram.as("top_bigram_frac"),
          (topWord < 0.2 && repFrac < 0.8).as("keep"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (
        SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents
      ), wc AS (
        SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w
      ), stats AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) n_words, count(*) n_distinct,
               CAST(max(c) AS BIGINT) max_word
        FROM wc GROUP BY doc_id
      ), big AS (
        SELECT doc_id, bg, count(*) c FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(string_split(text,' '))),
              i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS bg
          FROM documents) GROUP BY doc_id, bg
      ), bigstats AS (
        SELECT doc_id, CAST(max(c) AS BIGINT) max_bigram, CAST(sum(c) AS BIGINT) n_bigrams
        FROM big GROUP BY doc_id
      )
      SELECT s.doc_id, n_words, n_distinct, max_word, max_bigram,
        CAST(n_words - n_distinct AS DOUBLE)/n_words AS rep_word_frac,
        CAST(max_word AS DOUBLE)/n_words AS top_word_frac,
        CAST(max_bigram AS DOUBLE)/n_bigrams AS top_bigram_frac,
        (CAST(max_word AS DOUBLE)/n_words < 0.2
          AND CAST(n_words - n_distinct AS DOUBLE)/n_words < 0.8) AS keep
      FROM stats s JOIN bigstats b USING (doc_id)
      ORDER BY s.doc_id"""),
    covers = Seq("T-quality-repetition"))

  // --------------------------------------------------- text normalization
  // Accent stripping + case folding + whitespace collapse — the
  // canonicalization pass before dedup/language-id. The accented
  // input is planted deterministically (translate on a substring) so
  // the native StripAccents expression is exercised against DuckDB's
  // built-in strip_accents on identical text.
  private val q98 = QueryDef(
    "q98_normalize_text",
    (s, dir) => {
      val messy = t(s, dir, "documents").select(col("doc_id"),
        concat(translate(upper(substring(col("text"), 1, 60)), "AEO", "ÁÉÖ"),
          lit("  ")).as("raw"))
      val norm = trim(regexp_replace(StripAccents(lower(col("raw"))), " +", " "))
      messy.select(col("doc_id"), col("raw"), norm.as("norm"),
          (length(col("raw")) - length(norm)).cast(LongType).as("removed"))
        .orderBy("doc_id")
    },
    Some("""WITH messy AS (
        SELECT doc_id,
          translate(upper(substr(text,1,60)), 'AEO', 'ÁÉÖ') || '  ' AS raw
        FROM documents)
      SELECT doc_id, raw,
        trim(regexp_replace(strip_accents(lower(raw)), ' +', ' ', 'g')) AS norm,
        CAST(len(raw) -
          len(trim(regexp_replace(strip_accents(lower(raw)), ' +', ' ', 'g'))) AS BIGINT)
          AS removed
      FROM messy ORDER BY doc_id"""),
    covers = Seq("T-normalize", "P2", "P3"))

  // ------------------------------------------- deterministic weighted sample
  // Systematic sampling proportional to n_chars, ~5 docs per source:
  // walk each stratum in doc_id order accumulating weight and emit
  // every row whose cumulative weight crosses a multiple of
  // total/5 — weight-proportional, reproducible (no RNG), and
  // integer-exact so it hash-matches across engines. The
  // curated-corpus twin of q54's uniform hash sampling.
  private val q100 = QueryDef(
    "q100_weighted_sample",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val wCum = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("source")
      d.select(col("doc_id"), col("source"), col("n_chars"),
          sum("n_chars").over(wCum).as("cum"),
          sum("n_chars").over(wAll).as("total"))
        .withColumn("step", expr("total DIV 5 + 1"))
        .filter(expr("cum DIV step > (cum - n_chars) DIV step"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("cum"))
        .orderBy("source", "doc_id")
    },
    Some("""WITH w AS (
        SELECT doc_id, source, n_chars,
          CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
          CAST(sum(n_chars) OVER (PARTITION BY source) AS BIGINT) AS total
        FROM documents)
      SELECT doc_id, source, n_chars, cum
      FROM w WHERE cum // (total // 5 + 1) > (cum - n_chars) // (total // 5 + 1)
      ORDER BY source, doc_id"""),
    covers = Seq("T-weighted-sample", "W1"))

  // ------------------------------------------------- vocabulary construction
  // Corpus vocabulary: id by (frequency desc, term) with cumulative
  // corpus coverage — the token-id assignment step of tokenizer
  // training. The unpartitioned windows run over the POST-AGGREGATE
  // term table (tiny), not the corpus.
  private val q101 = QueryDef(
    "q101_vocab_coverage",
    (s, dir) => {
      val tc = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val tot = tc.agg(sum("c").as("t"))
      val wOrd = Window.orderBy(desc("c"), asc("w"))
      tc.crossJoin(broadcast(tot))
        .select(col("w").as("term"),
          row_number().over(wOrd).cast(LongType).as("vocab_id"),
          col("c").as("n_occurrences"),
          (sum("c").over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double") / col("t")).as("cum_share"))
        .orderBy("vocab_id")
    },
    Some("""WITH tok AS (SELECT unnest(string_split(text,' ')) AS w FROM documents),
      tc AS (SELECT w, CAST(count(*) AS BIGINT) c FROM tok GROUP BY w),
      tot AS (SELECT CAST(sum(c) AS BIGINT) t FROM tc),
      vocab AS (SELECT w, CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS vocab_id,
        c, CAST(sum(c) OVER (ORDER BY c DESC, w ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM tc)
      SELECT w AS term, vocab_id, c AS n_occurrences,
        CAST(cum AS DOUBLE) / t AS cum_share
      FROM vocab, tot ORDER BY vocab_id"""),
    covers = Seq("T-vocab", "W7"))

  // ------------------------------------------------------------- OOV rate
  // Per-document out-of-vocabulary rate against the top-10 corpus
  // vocabulary — the coverage metric that drives vocab-size choices.
  // The vocab is broadcast (tiny by construction); tokens never
  // shuffle except for the per-doc count aggregate.
  private val q102 = QueryDef(
    "q102_oov_rate",
    (s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val top = tok.groupBy("w").agg(count(lit(1)).as("c"))
        .select(col("w"), row_number().over(Window.orderBy(desc("c"), asc("w"))).as("rn"))
        .filter(col("rn") <= 10)
        .select(col("w").as("vw"))
      tok.join(broadcast(top), col("w") === col("vw"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          (count(lit(1)) - count(col("vw"))).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
      tc AS (SELECT w, count(*) c FROM tok GROUP BY w),
      top AS (SELECT w FROM (SELECT w, row_number() OVER (ORDER BY c DESC, w) rn FROM tc)
              WHERE rn <= 10)
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        CAST(count(*) - count(top.w) AS BIGINT) AS n_oov,
        CAST(count(*) - count(top.w) AS DOUBLE) / count(*) AS oov_rate
      FROM tok t LEFT JOIN top ON t.w = top.w
      GROUP BY t.doc_id ORDER BY t.doc_id"""),
    covers = Seq("T-vocab", "J1"))

  // ------------------------------------------------ end-to-end curation
  // The full corpus-curation pipeline (pipelines/CorpusCuration):
  // normalize → repetition quality gates → exact dedup → trigram-
  // Jaccard near-dup, with the complete per-document audit trail
  // hash-matched against a single SQL re-implementation of all four
  // stages. The integration gate on top of the per-operator gates
  // (q97/q98/q21/q22).
  private val q109 = QueryDef(
    "q109_curation_pipeline",
    (s, dir) =>
      graft.pipelines.CorpusCuration.audit(t(s, dir, "documents")),
    Some("""WITH norm AS (
        SELECT doc_id, trim(regexp_replace(strip_accents(lower(text)), ' +', ' ', 'g')) AS ntext
        FROM documents),
      tok AS (SELECT doc_id, string_split(ntext,' ') AS tk FROM norm),
      wc AS (SELECT doc_id, w, count(*) c
             FROM (SELECT doc_id, unnest(tk) w FROM tok) GROUP BY doc_id, w),
      qual AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) n_words,
          (CAST(sum(c) AS BIGINT) >= 10
           AND CAST(max(c) AS DOUBLE)/sum(c) < 0.2
           AND CAST(sum(c) - count(*) AS DOUBLE)/sum(c) < 0.8) AS q_keep
        FROM wc GROUP BY doc_id),
      ex AS (
        SELECT n.doc_id,
          row_number() OVER (PARTITION BY md5(ntext) ORDER BY n.doc_id) > 1 AS is_exact_dup
        FROM norm n JOIN qual USING (doc_id) WHERE q_keep),
      surv AS (SELECT doc_id FROM ex WHERE NOT is_exact_dup),
      sh AS (
        SELECT DISTINCT t.doc_id,
          unnest(list_transform(range(1, greatest(len(tk)-1, 1)),
            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
        FROM tok t JOIN surv USING (doc_id) WHERE len(tk) >= 3),
      sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id da, b.doc_id db, count(*) common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
      near AS (
        SELECT DISTINCT db AS doc_id FROM pairs
        JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
        WHERE CAST(common AS DOUBLE)/(sa.n + sb.n - common) >= 0.5)
      SELECT q.doc_id, q.n_words, q.q_keep,
        coalesce(ex.is_exact_dup, FALSE) AS is_exact_dup,
        (near.doc_id IS NOT NULL) AS is_near_dup,
        (q.q_keep AND NOT coalesce(ex.is_exact_dup, FALSE) AND near.doc_id IS NULL) AS kept
      FROM qual q
      LEFT JOIN ex ON q.doc_id = ex.doc_id
      LEFT JOIN near ON q.doc_id = near.doc_id
      ORDER BY q.doc_id"""),
    covers = Seq("T-curation-pipeline"))

  // ---------------------------------------------------- decontamination
  // Benchmark decontamination: training documents sharing any word
  // 7-gram with the held-out eval split (doc_id % 97 = 0) are flagged
  // with their overlap count — the n-gram contamination check every
  // pretraining pipeline runs before training. Eval grams are DISTINCT
  // and tiny → broadcast; training grams stream through the join
  // without materializing.
  private val q115 = QueryDef(
    "q115_decontamination",
    (s, dir) => {
      val d = t(s, dir, "documents")
      def grams(df: DataFrame) = df.select(col("doc_id"),
        explode(array_distinct(WordShingles(col("text"), 7))).as("g"))
      val evalGrams = grams(d.filter(col("doc_id") % 97 === 0))
        .select("g").distinct()
      grams(d.filter(col("doc_id") % 97 =!= 0))
        .join(broadcast(evalGrams), "g")
        .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated_grams"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
      evalg AS (
        SELECT DISTINCT unnest(list_transform(range(1, greatest(len(tk)-5, 1)),
          i -> tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||tk[i+4]||' '||tk[i+5]||' '||tk[i+6])) AS g
        FROM tok WHERE doc_id % 97 = 0 AND len(tk) >= 7),
      traing AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(tk)-5, 1)),
          i -> tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||tk[i+4]||' '||tk[i+5]||' '||tk[i+6]))) AS g
        FROM tok WHERE doc_id % 97 <> 0 AND len(tk) >= 7)
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated_grams
      FROM traing t JOIN evalg e ON t.g = e.g
      GROUP BY t.doc_id ORDER BY t.doc_id"""),
    covers = Seq("T-decontamination", "J1"))

  // ------------------------------------------------------- source drift
  // Distribution-drift monitor: term-share difference between two
  // source groups, top movers first — the corpus-mix check run before
  // admitting a new crawl into training data. Shares are single
  // divisions of exact counts; ranking on the shared IEEE drift tree
  // with a term tiebreak is therefore engine-stable.
  private val q127 = QueryDef(
    "q127_source_drift",
    (s, dir) => {
      val tok = t(s, dir, "documents").select(
        when(col("source").isin("src0", "src1", "src2"), "a").otherwise("b")
          .as("grp"),
        explode(split(col("text"), " ")).as("w"))
      val wide = tok.groupBy("w").agg(
        count_if(col("grp") === "a").as("n_a"),
        count_if(col("grp") === "b").as("n_b"))
      val tot = wide.agg(sum("n_a").as("ta"), sum("n_b").as("tb"))
      val drift = col("n_a").cast("double") / col("ta") -
        col("n_b").cast("double") / col("tb")
      wide.crossJoin(broadcast(tot))
        .select(col("w").as("term"), col("n_a"), col("n_b"),
          drift.as("share_drift"))
        .orderBy(abs(drift).desc, col("term"))
        .limit(15)
    },
    Some("""WITH tok AS (
        SELECT CASE WHEN source IN ('src0','src1','src2') THEN 'a' ELSE 'b' END AS grp,
          unnest(string_split(text,' ')) AS w
        FROM documents),
      c AS (SELECT grp, w, CAST(count(*) AS BIGINT) n FROM tok GROUP BY 1, 2),
      tot AS (SELECT grp, CAST(sum(n) AS BIGINT) t FROM c GROUP BY 1),
      wide AS (
        SELECT w,
          coalesce(max(CASE WHEN grp='a' THEN n END), 0) AS n_a,
          coalesce(max(CASE WHEN grp='b' THEN n END), 0) AS n_b
        FROM c GROUP BY w),
      ta AS (SELECT t FROM tot WHERE grp='a'), tb AS (SELECT t FROM tot WHERE grp='b')
      SELECT w AS term, n_a, n_b,
        CAST(n_a AS DOUBLE)/ta.t - CAST(n_b AS DOUBLE)/tb.t AS share_drift
      FROM wide, ta, tb
      ORDER BY abs(CAST(n_a AS DOUBLE)/ta.t - CAST(n_b AS DOUBLE)/tb.t) DESC, term
      LIMIT 15"""),
    covers = Seq("T-drift"))

  // ------------------------------------------------------ collocation lift
  // Bigram collocations by LIFT — P(ab)/(P(a)P(b)) as the rational
  // n_ab·N/(n_a·n_b), so no logs (PMI's log changes nothing about the
  // ranking) and the score is one shared IEEE tree over exact counts.
  // The collocation-mining step of phrase-vocabulary induction.
  private val q131 = QueryDef(
    "q131_bigram_lift",
    (s, dir) => {
      val tk = t(s, dir, "documents").select(split(col("text"), " ").as("tk"))
      val uni = tk.select(explode(col("tk")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
      val tot = uni.agg(sum("n").as("t"))
      val big = tk.select(explode(when(size(col("tk")) >= 2,
          transform(sequence(lit(1), size(col("tk")) - 1),
            i => concat_ws(" ", element_at(col("tk"), i), element_at(col("tk"), i + 1))))
          .otherwise(array())).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 30)
        .withColumn("wa", split(col("bg"), " ")(0))
        .withColumn("wb", split(col("bg"), " ")(1))
      val lift = col("n_ab").cast("double") * col("t") / (col("n_a") * col("n_b"))
      big
        .join(uni.select(col("w").as("wa"), col("n").as("n_a")), "wa")
        .join(uni.select(col("w").as("wb"), col("n").as("n_b")), "wb")
        .crossJoin(broadcast(tot))
        .select(col("bg").as("bigram"), col("n_ab"), col("n_a"), col("n_b"),
          lift.as("lift"))
        .orderBy(lift.desc, col("bigram"))
        .limit(20)
    },
    Some("""WITH tok AS (SELECT string_split(text,' ') AS tk FROM documents),
      uni AS (SELECT w, CAST(count(*) AS BIGINT) n
              FROM (SELECT unnest(tk) w FROM tok) GROUP BY w),
      tot AS (SELECT CAST(sum(n) AS BIGINT) t FROM uni),
      big AS (
        SELECT bg, CAST(count(*) AS BIGINT) n_ab FROM (
          SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bg
          FROM tok) GROUP BY bg),
      parts AS (
        SELECT bg, n_ab, string_split(bg, ' ')[1] AS wa, string_split(bg, ' ')[2] AS wb
        FROM big WHERE n_ab >= 30)
      SELECT bg AS bigram, n_ab, ua.n AS n_a, ub.n AS n_b,
        CAST(n_ab AS DOUBLE) * t / (ua.n * ub.n) AS lift
      FROM parts JOIN uni ua ON wa = ua.w JOIN uni ub ON wb = ub.w, tot
      ORDER BY CAST(n_ab AS DOUBLE) * t / (ua.n * ub.n) DESC, bigram LIMIT 20"""),
    covers = Seq("T-collocation"))

  // ---------------------------------------------------------- phrase search
  // Positional phrase matching — the retrieval primitive shingle
  // membership can't provide (it finds docs, not positions): 1-based
  // token positions via posexplode, adjacency checked against the
  // carried array. Occurrence counts and first hit position per doc.
  private val q147 = QueryDef(
    "q147_phrase_search",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), split(col("text"), " ").as("tk"))
      d.select(col("doc_id"), col("tk"), posexplode(col("tk")))
        .withColumn("p", col("pos") + 1)
        .filter(col("p") <= size(col("tk")) - 2 &&
          concat_ws(" ", col("col"),
            element_at(col("tk"), col("p") + 1),
            element_at(col("tk"), col("p") + 2)) === "slow hash batch")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"), min(col("p")).cast(LongType).as("first_pos"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, string_split(text,' ') tk FROM documents),
      pos AS (SELECT doc_id, unnest(range(1, greatest(len(tk)-1, 1))) AS p, tk FROM tok),
      hits AS (
        SELECT doc_id, p FROM pos
        WHERE tk[p]||' '||tk[p+1]||' '||tk[p+2] = 'slow hash batch')
      SELECT doc_id, CAST(count(*) AS BIGINT) n_hits, CAST(min(p) AS BIGINT) first_pos
      FROM hits GROUP BY 1 ORDER BY 1"""),
    covers = Seq("TXT-phrase"))

  // ------------------------------------------------ quantized tf-idf retrieval
  // Multi-term document retrieval ranked by integer-QUANTIZED tf·idf
  // (idf as (N·10⁶) DIV df): float idf sums are order-dependent
  // across partitions, integer scores are exact under any execution —
  // the quantization trick reproducible search engines actually use.
  // Query terms join before df (broadcast both tiny sides), so the
  // corpus-wide term table is touched once.
  private val q148 = QueryDef(
    "q148_retrieval",
    (s, dir) => {
      val tf = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val n = t(s, dir, "documents").agg(count(lit(1)).as("n"))
      val q = s.createDataFrame(Seq(Tuple1("hash"), Tuple1("batch"), Tuple1("sort")))
        .toDF("w")
      tf.join(broadcast(q), "w").join(df, "w").crossJoin(broadcast(n))
        .groupBy("doc_id")
        .agg(sum(col("tf") * expr("(n * 1000000) DIV df")).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) w FROM documents),
      tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) tf FROM tok GROUP BY 1,2),
      df AS (SELECT w, CAST(count(*) AS BIGINT) df FROM tf GROUP BY 1),
      n AS (SELECT CAST(count(*) AS BIGINT) n FROM documents),
      q AS (SELECT unnest(['hash','batch','sort']) w)
      SELECT tf.doc_id, CAST(SUM(tf.tf * ((n.n * 1000000) // df.df)) AS BIGINT) score
      FROM tf JOIN q USING (w) JOIN df USING (w) CROSS JOIN n
      GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10"""),
    covers = Seq("TXT-retrieval"))

  /** Distinct word-3-gram postings (doc_id, s) via the native
    * [[graft.functions.WordShingles]] expression.
    */
  private def shingles3(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
        explode(graft.functions.WordShingles(col("text"), 3)).as("s"))
      .distinct()

  /** DuckDB twins of the shingle postings as CTE bodies. */
  private val sh3Sql =
    """toksrc AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       sh AS (SELECT DISTINCT doc_id,
                unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
              FROM toksrc WHERE len(tk) >= 3)"""

  // --------------------------------------- boilerplate n-gram removal
  // CCNet-style boilerplate filtering at n-gram granularity: a word
  // 3-gram present in ≥5 distinct documents is boilerplate (nav bars,
  // cookie banners, license headers in a real crawl); each document
  // reports how much of it survives. The boilerplate set is tiny
  // relative to the corpus (151 of 16k shingles here), so the
  // membership join broadcasts — at 100 TB the corpus-wide frequency
  // pass is the only shuffle.
  private val q156 = QueryDef(
    "q156_boilerplate_rm",
    (s, dir) => {
      val sh = shingles3(t(s, dir, "documents"))
      val boiler = sh.groupBy("s").agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 5)
        .select(col("s"), lit(1).as("b"))
      sh.join(broadcast(boiler), Seq("s"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("b"), lit(0))).as("n_boiler"))
        .select(col("doc_id"), col("n_shingles"), col("n_boiler"),
          ((col("n_shingles") - col("n_boiler")).cast("double") / col("n_shingles"))
            .as("kept_frac"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $sh3Sql,
      boiler AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) >= 5)
      SELECT doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_shingles,
        CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        CAST(COUNT(*) - SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(*) AS kept_frac
      FROM sh LEFT JOIN boiler b USING (s)
      GROUP BY doc_id ORDER BY doc_id"""),
    covers = Seq("TXT-boilerplate"))

  // --------------------------------------------- lexical diversity (exact)
  // Quality scoring without floats-in-aggregation: Simpson diversity
  // 1 − Σc²/n² and type-token ratio from exact integer token counts.
  // (Shannon entropy is the textbook form, but log2 differs by 1 ulp
  // between libm implementations — Simpson is the same signal as a
  // rational number, so the gate stays hash-exact. q97 covers the
  // repetition ratios; this is the distribution-concentration view.)
  private val q158 = QueryDef(
    "q158_lexical_diversity",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val tok = d.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      tok.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(col("c") * col("c")).as("sum_c2"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          (lit(1.0) - col("sum_c2").cast("double") / (col("n_tokens") * col("n_tokens")))
            .as("simpson"),
          (col("n_distinct").cast("double") / col("n_tokens")).as("ttr"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      cnt AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2)
      SELECT doc_id,
        CAST(SUM(c) AS BIGINT) AS n_tokens,
        CAST(COUNT(*) AS BIGINT) AS n_distinct,
        1.0 - CAST(SUM(c*c) AS DOUBLE) / (SUM(c) * SUM(c)) AS simpson,
        CAST(COUNT(*) AS DOUBLE) / SUM(c) AS ttr
      FROM cnt GROUP BY doc_id ORDER BY doc_id"""),
    covers = Seq("TXT-diversity"))

  // ------------------------------------------------ overlapping chunking
  // RAG/pretraining chunk fan-out: fixed 32-token windows advancing by
  // a 24-token stride (8 tokens of overlap), one output row per chunk.
  // The chunk text is re-sliced from the token array in-row
  // (`slice` + `concat_ws`) — no self-join, no explode-then-window —
  // so the operator is one narrow `Generate` per doc and scales
  // linearly with corpus size; chunk identity travels as an md5 digest
  // so the gate compares content without hauling strings. Stride
  // starts come from `sequence(0, n_tok-1, 24)`: every token lands in
  // ≥1 chunk, tails shorter than the window emit with their true
  // length (`least(32, n-start)`).
  private val q162 = QueryDef(
    "q162_chunk_overlap",
    (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .withColumn("n_tok", size(col("tk")))
      docs
        .select(col("doc_id"), col("n_tok"), col("tk"),
          posexplode(sequence(lit(0), col("n_tok") - 1, lit(24)))
            .as(Seq("chunk_idx", "start_tok")))
        .select(
          col("doc_id"),
          col("chunk_idx").cast(LongType).as("chunk_idx"),
          col("start_tok").cast(LongType).as("start_tok"),
          least(lit(32), col("n_tok") - col("start_tok")).cast(LongType).as("chunk_len"),
          md5(concat_ws(" ", slice(col("tk"), col("start_tok") + 1, lit(32)))).as("digest"))
        .orderBy("doc_id", "chunk_idx")
    },
    Some("""WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS tk,
               len(string_split(text, ' ')) AS n_tok
        FROM documents WHERE doc_id % 5 = 0),
      starts AS (
        SELECT doc_id, n_tok, tk,
               unnest(generate_series(0, n_tok - 1, 24)) AS start_tok
        FROM d),
      c AS (
        SELECT doc_id, n_tok, start_tok,
               array_to_string(tk[start_tok + 1 : start_tok + 32], ' ') AS chunk
        FROM starts)
      SELECT doc_id,
        CAST((start_tok / 24) AS BIGINT) AS chunk_idx,
        CAST(start_tok AS BIGINT) AS start_tok,
        CAST(least(32, n_tok - start_tok) AS BIGINT) AS chunk_len,
        md5(chunk) AS digest
      FROM c
      ORDER BY doc_id, chunk_idx"""),
    covers = Seq("TEXT-chunking"))

  // --------------------------------------------- token-budget admission
  // Per-source corpus capping: order each source's docs by a
  // deterministic hash (reproducible "random" priority, as q54/q142),
  // admit while the running token total stays within a 3000-token
  // budget. One window cumsum per source — the admission decision for
  // N docs costs one shuffle by source, not an iterative loop; at
  // 100 TB the budget becomes per-source reservoir quotas with the
  // same cumulative-threshold shape. Gate reports per-source admitted
  // counts + exact token mass.
  private val q163 = QueryDef(
    "q163_token_budget",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"),
          md5(col("doc_id").cast("string")).as("h"))
      val w = Window.partitionBy("source").orderBy("h")
      docs.withColumn("cum_tok", sum(col("n_tok")).over(w))
        .filter(col("cum_tok") <= 3000)
        .groupBy("source")
        .agg(count(lit(1)).as("n_admitted"),
          sum(col("n_tok")).as("tok_admitted"),
          max(col("cum_tok")).as("budget_used"))
        .orderBy("source")
    },
    Some("""WITH d AS (
        SELECT source, doc_id,
          len(string_split(text, ' ')) AS n_tok,
          md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents),
      c AS (
        SELECT source, n_tok,
          SUM(n_tok) OVER (PARTITION BY source ORDER BY h) AS cum_tok
        FROM d)
      SELECT source,
        CAST(COUNT(*) AS BIGINT) AS n_admitted,
        CAST(SUM(n_tok) AS BIGINT) AS tok_admitted,
        CAST(MAX(cum_tok) AS BIGINT) AS budget_used
      FROM c WHERE cum_tok <= 3000
      GROUP BY source ORDER BY source"""),
    covers = Seq("TEXT-budget"))

  // ------------------------------------------- URL parse + hash surface
  // Domain extraction and content digests — the crawl-curation
  // identity operations (URL canonicalization keys, content-hash
  // dedup keys). URLs are constructed from doc metadata, then pulled
  // apart with Spark's native parse_url (HOST / PATH / QUERY:key) and
  // digested with sha2-256 + md5; the oracle rebuilds the same parts
  // from the raw columns, so a parse_url deviation (or a hex-case
  // difference in sha2) hash-mismatches. Everything is per-row
  // (narrow), as a 100 TB URL normalization pass must be.
  private val q173 = QueryDef(
    "q173_url_hash",
    (s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") % 7 === 0)
        .withColumn("url",
          concat(lit("https://"), col("source"), lit(".example.org/d/"),
            col("doc_id"), lit("?lang="), col("lang"), lit("&v=1")))
      d.select(
          col("doc_id"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY"), lit("lang")).as("lang_q"),
          sha2(col("text"), 256).as("sha256_text"),
          md5(col("url")).as("md5_url"),
          length(col("text")).as("n_chars"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
        source || '.example.org' AS host,
        '/d/' || doc_id AS path,
        lang AS lang_q,
        sha256(text) AS sha256_text,
        md5('https://' || source || '.example.org/d/' || doc_id
            || '?lang=' || lang || '&v=1') AS md5_url,
        CAST(length(text) AS INTEGER) AS n_chars
      FROM documents WHERE doc_id % 7 = 0 ORDER BY doc_id"""),
    covers = Seq("TEXT-url-hash"))

  // --------------------------------------------- BPE merge-step counts
  // The inner loop of byte-pair-encoding tokenizer training: count
  // adjacent character pairs across the corpus, weighted by word
  // frequency. The heavy lift is ONE word-frequency aggregate (the
  // corpus collapses to its vocabulary — at 100 TB that is the only
  // data-sized shuffle); pairs then explode from the tiny distinct
  // vocab, so each merge iteration after the first costs vocab-sized
  // work, not corpus-sized. Top-30 by (count desc, pair) is exactly
  // the greedy BPE merge choice, made deterministic by the total
  // tiebreak.
  private val q175 = QueryDef(
    "q175_bpe_pairs",
    (s, dir) => {
      val words = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("wc"))
      val pairs = words
        .select(col("wc"),
          explode(transform(sequence(lit(1), length(col("w")) - 1),
            i => col("w").substr(i, lit(2)))).as("pair"))
      pairs.groupBy("pair")
        .agg(sum(col("wc")).as("n"))
        .orderBy(desc("n"), col("pair"))
        .limit(30)
    },
    Some("""WITH words AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS wc
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE len(w) >= 2 GROUP BY w),
      p0 AS (SELECT w, wc, unnest(generate_series(1, len(w) - 1)) AS i FROM words),
      pairs AS (SELECT substring(w, i, 2) AS pair, wc FROM p0)
      SELECT pair, CAST(SUM(wc) AS BIGINT) AS n
      FROM pairs GROUP BY pair
      ORDER BY n DESC, pair LIMIT 30"""),
    covers = Seq("TEXT-bpe"))

  // ---------------------------------------------- n-gram novelty curve
  // Ingestion-order novelty: treating doc_id as arrival order, a
  // doc's novelty is the fraction of its distinct 5-grams whose FIRST
  // corpus occurrence is that doc (min doc_id over the gram's
  // postings). The curve is the standard diminishing-returns
  // diagnostic for crawl scheduling — when novelty flattens, the
  // source is mined out. Two keyed shuffles regardless of corpus
  // size: gram→min(doc) aggregate, postings⋈first re-join; ties
  // (gram first seen twice in one doc) are impossible because
  // postings are per-doc DISTINCT.
  private val q176 = QueryDef(
    "q176_ngram_novelty",
    (s, dir) => {
      val post = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.WordShingles(col("text"), 5)).as("g"))
        .distinct()
      val first = post.groupBy("g").agg(min(col("doc_id")).as("first_doc"))
      post.join(first, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty",
          col("n_novel").cast("double") / col("n_grams").cast("double"))
        .orderBy("doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      gi AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 4)) AS i
             FROM d WHERE len(tk) >= 5),
      post AS (SELECT DISTINCT doc_id,
                 tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                 tk[i+3] || ' ' || tk[i+4] AS g
               FROM gi),
      first AS (SELECT g, MIN(doc_id) AS first_doc FROM post GROUP BY g)
      SELECT p.doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_grams,
        CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS novelty
      FROM post p JOIN first f USING (g)
      GROUP BY p.doc_id ORDER BY p.doc_id"""),
    covers = Seq("TEXT-novelty"))

  // ----------------------------------------------- vocabulary health
  // Per-source lexical health: vocabulary size, hapax legomena share
  // (words seen exactly once — a high share flags OCR noise or
  // boilerplate-free diversity), and the corpus coverage of the
  // source's top-10 words. One token aggregate per source feeds all
  // three — integer counts end-to-end, one double division each.
  private val q196 = QueryDef(
    "q196_vocab_health",
    (s, dir) => {
      val tf = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      val byRank = tf.withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(desc("c"), col("w"))))
      byRank.groupBy("source")
        .agg(count(lit(1)).as("n_vocab"),
          sum(col("c")).as("n_tokens"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
          sum(when(col("rk") <= 10, col("c")).otherwise(0L)).as("top10_tokens"))
        .select(col("source"), col("n_vocab"), col("n_tokens"), col("n_hapax"),
          (col("n_hapax").cast("double") / col("n_vocab").cast("double"))
            .as("hapax_share"),
          (col("top10_tokens").cast("double") / col("n_tokens").cast("double"))
            .as("top10_coverage"))
        .orderBy("source")
    },
    Some("""WITH tf AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY 1, 2),
      ranked AS (
        SELECT source, w, c,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, w) AS rk
        FROM tf)
      SELECT source,
        CAST(COUNT(*) AS BIGINT) AS n_vocab,
        CAST(SUM(c) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS hapax_share,
        CAST(SUM(CASE WHEN rk <= 10 THEN c ELSE 0 END) AS DOUBLE)
          / CAST(SUM(c) AS DOUBLE) AS top10_coverage
      FROM ranked GROUP BY source ORDER BY source"""),
    covers = Seq("TEXT-vocab-health"))

  // ------------------------------------------- skip-gram pair counts
  // Word2vec-style co-occurrence extraction: (center, context) pairs
  // within a ±2 token window, counted corpus-wide. Each token emits
  // its 4 context POSITIONS, which equi-join back to the token table
  // on (doc, position) — strictly linear in corpus size (a naive
  // positions theta-join is per-doc quadratic before its filter);
  // out-of-range probes simply find no match. The count aggregate is
  // the one data-sized shuffle, keyed by pair. Top-30 by (count
  // desc, pair) is the training-table head.
  private val q197 = QueryDef(
    "q197_skipgram_pairs",
    (s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " "))
          .as(Seq("pos", "w")))
      val probes = tok.select(col("doc_id"), col("w").as("center"),
        explode(array(col("pos") - 2, col("pos") - 1,
          col("pos") + 1, col("pos") + 2)).as("pb"))
      val ctx = tok.select(col("doc_id"), col("pos").as("pb"),
        col("w").as("context"))
      probes.join(ctx, Seq("doc_id", "pb"))
        .groupBy("center", "context")
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("center"), col("context"))
        .limit(30)
    },
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      toki AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM d),
      tok AS (SELECT doc_id, i - 1 AS pos, tk[i] AS w FROM toki),
      pairs AS (
        SELECT a.w AS center, b.w AS context
        FROM tok a JOIN tok b
          ON a.doc_id = b.doc_id AND a.pos <> b.pos
         AND b.pos BETWEEN a.pos - 2 AND a.pos + 2)
      SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n
      FROM pairs GROUP BY 1, 2
      ORDER BY n DESC, center, context LIMIT 30"""),
    covers = Seq("TEXT-skipgram"))

  // ------------------------------------------------ sequence packing
  // GPT-style fixed-length training-sequence packing: documents
  // concatenate in a deterministic order and cut every 2048 tokens,
  // docs straddling a cut carry into the next sequence (cross-doc
  // attention masking handles the seam downstream). Packing is a
  // running state, so it windows — but over a SHARD (doc_id % 8),
  // never the whole corpus: each shard packs independently in
  // parallel, which is the only shape that survives 100 TB (a global
  // ORDER BY over every document does not). Shard count maps to
  // partition count at scale; determinism comes from the (shard,
  // doc_id) total order, not from task scheduling.
  private val q198 = QueryDef(
    "q198_sequence_packing",
    (s, dir) => {
      val budget = 2048L
      val d = t(s, dir, "documents").select(
        (col("doc_id") % 8).as("shard"),
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val placed = d
        .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .withColumn("seq_id", expr(s"cum_before div $budget"))
        .withColumn("last_seq", expr(s"(cum_before + n_tok - 1) div $budget"))
      placed.groupBy("shard", "seq_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("last_seq") > col("seq_id"), 1L).otherwise(0L))
            .as("n_straddle"),
          sum(col("n_tok")).as("n_tokens"))
        .orderBy("shard", "seq_id")
    },
    Some("""WITH d AS (
        SELECT doc_id % 8 AS shard, doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
      placed AS (
        SELECT shard, n_tok,
          CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS cum_before
        FROM d)
      SELECT shard, cum_before // 2048 AS seq_id,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN (cum_before + n_tok - 1) // 2048 > cum_before // 2048
          THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle,
        CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM placed GROUP BY 1, 2 ORDER BY shard, seq_id"""),
    covers = Seq("TRAIN-seq-packing"))

  // ------------------------------------------- Pareto 80% coverage
  // Corpus concentration per source: how many of the longest
  // documents cover 80% of the source's characters? Docs rank by
  // (n_chars desc, doc_id) inside each source; the answer is the
  // smallest prefix whose running char sum reaches 4/5 of the total —
  // decided by the INTEGER compare 5·cum ≥ 4·total, so no float
  // boundary exists. One sort-based window per source partition; the
  // concentration decision every mixing recipe starts from.
  private val q230 = QueryDef(
    "q230_pareto_coverage",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val w = Window.partitionBy("source")
        .orderBy(desc("n_chars"), col("doc_id"))
      val tot = Window.partitionBy("source")
      val ranked = d.select(col("source"), col("n_chars"), col("doc_id"))
        .withColumn("cum", sum(col("n_chars")).over(w))
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("total", sum(col("n_chars")).over(tot))
        .withColumn("n_docs", count(lit(1)).over(tot))
      ranked.filter(col("cum") * 5 >= col("total") * 4)
        .groupBy("source")
        .agg(
          min(col("rk")).as("docs_to_80pct"),
          first(col("n_docs")).as("n_docs"),
          (min(col("rk")).cast("double") /
            first(col("n_docs")).cast("double")).as("doc_share"))
        .orderBy("source")
    },
    Some("""WITH r AS (SELECT source, n_chars,
          SUM(n_chars) OVER (PARTITION BY source
            ORDER BY n_chars DESC, doc_id
            ROWS UNBOUNDED PRECEDING) AS cum,
          ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY n_chars DESC, doc_id) AS rk,
          SUM(n_chars) OVER (PARTITION BY source) AS total,
          COUNT(*) OVER (PARTITION BY source) AS n_docs
        FROM documents)
      SELECT source,
        CAST(MIN(rk) AS BIGINT) AS docs_to_80pct,
        CAST(MIN(n_docs) AS BIGINT) AS n_docs,
        CAST(CAST(MIN(rk) AS BIGINT) AS DOUBLE) /
          CAST(CAST(MIN(n_docs) AS BIGINT) AS DOUBLE) AS doc_share
      FROM r WHERE cum * 5 >= total * 4
      GROUP BY source ORDER BY source"""),
    covers = Seq("CUR-pareto"))

  // Diversity and distribution-drift measures that stay inside the
  // determinism rules: Simpson's index is integer-rational end to end, and
  // Hellinger distance needs only correctly-rounded IEEE sqrt (ln-based
  // entropy/KL are banned from hash-gated queries: no two libms round them
  // identically, see q52).
  private def toks(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)

  // ------------------------------------------------- Simpson diversity
  // Vocabulary concentration per source: Simpson's index
  // S = Σ c(c−1) / (n(n−1)) — the probability two tokens drawn
  // without replacement are the SAME term — and its Gini–Simpson
  // complement (diversity). The entropy alternative that stays exact:
  // Σ c(c−1) is a plain LONG sum of integer products, and the index
  // is ONE division of exact integers — no logarithm anywhere, so the
  // hash gate holds across engines. Two cascaded count aggregates on
  // the token stream; at any corpus size this is a map-side-combined
  // shuffle on (source, term) then on source.
  private val q269 = QueryDef(
    "q269_simpson_diversity",
    (s, dir) => {
      val counts = toks(s, dir).groupBy("source", "term")
        .agg(count(lit(1)).as("c"))
      counts.groupBy("source")
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_terms"),
          sum(col("c") * (col("c") - 1L)).as("s_num"))
        .filter(col("n_tokens") > 1)
        .select(col("source"), col("n_tokens"), col("n_terms"),
          (col("s_num").cast("double") /
            (col("n_tokens").cast("double")
              * (col("n_tokens") - 1L).cast("double"))).as("simpson"),
          (lit(1.0d) - col("s_num").cast("double") /
            (col("n_tokens").cast("double")
              * (col("n_tokens") - 1L).cast("double"))).as("diversity"))
        .orderBy("source")
    },
    Some("""WITH tok AS (SELECT source, t.term
        FROM documents, unnest(string_split(text, ' ')) AS t(term)
        WHERE length(t.term) > 0),
      counts AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
                 FROM tok GROUP BY 1, 2),
      g AS (SELECT source,
          CAST(SUM(c) AS BIGINT) AS n_tokens,
          CAST(COUNT(*) AS BIGINT) AS n_terms,
          CAST(SUM(c * (c - 1)) AS BIGINT) AS s_num
        FROM counts GROUP BY source)
      SELECT source, n_tokens, n_terms,
        CAST(s_num AS DOUBLE) /
          (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE)) AS simpson,
        CAST(1 AS DOUBLE) - CAST(s_num AS DOUBLE) /
          (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE)) AS diversity
      FROM g WHERE n_tokens > 1 ORDER BY source"""),
    covers = Seq("TEXT-simpson"))

  // ------------------------------------------------- Hellinger drift
  // How far each source's term distribution sits from the corpus-wide
  // one: squared Hellinger distance
  // H² = ½ Σ_union (√p − √q)², folded as Σ_present ((√p−√q)² − q) + 1
  // (terms absent from the source contribute exactly q, and every
  // source term is in the global vocabulary). Bounded [0,1] like
  // q246's total-variation drift but sensitive to the tail. Every
  // per-term value is ONE fixed IEEE tree over exact counts (sqrt is
  // correctly rounded — the q195 rule), and the cross-term double sum
  // folds an ORDERED term list sequentially on both engines
  // (aggregate ↔ list_reduce), so the gate hash holds.
  private val q270 = QueryDef(
    "q270_hellinger_drift",
    (s, dir) => {
      val tk = toks(s, dir)
      val sc = tk.groupBy("source", "term").agg(count(lit(1)).as("c"))
      val st = tk.groupBy("source").agg(count(lit(1)).as("ns"))
      val gc = tk.groupBy("term").agg(count(lit(1)).as("g"))
      val gt = tk.agg(count(lit(1)).as("ng"))
      val p = col("c").cast("double") / col("ns").cast("double")
      val q = col("g").cast("double") / col("ng").cast("double")
      val d = sqrt(p) - sqrt(q)
      val terms = sc.join(st, "source").join(gc, "term").crossJoin(broadcast(gt))
        .withColumn("v", d * d - q)
      terms.groupBy("source")
        .agg(first(col("ns")).as("n_tokens"),
          count(lit(1)).as("n_shared_terms"),
          aggregate(
            sort_array(collect_list(struct(col("term"), col("v")))),
            lit(0.0d), (acc, x) => acc + x.getField("v")).as("fold"))
        .select(col("source"), col("n_tokens"), col("n_shared_terms"),
          ((col("fold") + lit(1.0d)) / lit(2.0d)).as("h2"),
          sqrt((col("fold") + lit(1.0d)) / lit(2.0d)).as("hellinger"))
        .orderBy("source")
    },
    Some("""WITH tok AS (SELECT source, t.term
        FROM documents, unnest(string_split(text, ' ')) AS t(term)
        WHERE length(t.term) > 0),
      sc AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
             FROM tok GROUP BY 1, 2),
      st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ns
             FROM tok GROUP BY 1),
      gc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS g
             FROM tok GROUP BY 1),
      gt AS (SELECT CAST(COUNT(*) AS BIGINT) AS ng FROM tok),
      terms AS (SELECT sc.source, sc.term,
          (sqrt(CAST(c AS DOUBLE) / CAST(ns AS DOUBLE))
            - sqrt(CAST(g AS DOUBLE) / CAST(ng AS DOUBLE)))
          * (sqrt(CAST(c AS DOUBLE) / CAST(ns AS DOUBLE))
            - sqrt(CAST(g AS DOUBLE) / CAST(ng AS DOUBLE)))
          - CAST(g AS DOUBLE) / CAST(ng AS DOUBLE) AS v,
          ns
        FROM sc JOIN st USING (source) JOIN gc USING (term) CROSS JOIN gt),
      folded AS (SELECT source,
          MIN(ns) AS n_tokens,
          CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
          list_reduce(list(v ORDER BY term), (a, b) -> a + b) AS fold
        FROM terms GROUP BY source)
      SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens, n_shared_terms,
        (fold + CAST(1 AS DOUBLE)) / CAST(2 AS DOUBLE) AS h2,
        sqrt((fold + CAST(1 AS DOUBLE)) / CAST(2 AS DOUBLE)) AS hellinger
      FROM folded ORDER BY source"""),
    covers = Seq("TEXT-hellinger"))

  // ------------------------------------------------- vocab overlap
  // Pairwise Jaccard overlap of the SOURCES' vocabularies — which
  // corpora speak the same language? (q22 compares documents; this
  // compares collections.) Distinct (source, term) postings self-join
  // on term to count intersections; unions come from the exact
  // inclusion-exclusion |A|+|B|−|A∩B|, so the similarity is ONE
  // division of exact longs. The join key is the term — vocabulary-
  // sized, not corpus-sized — and the pair grid is sources², tiny at
  // any data scale. Pairs emit once (a < b).
  private val q271 = QueryDef(
    "q271_source_vocab_overlap",
    (s, dir) => {
      val posts = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
        .distinct()
      val sizes = posts.groupBy("source").agg(count(lit(1)).as("nv"))
      val inter = posts.as("a")
        .join(posts.as("b"), Seq("term"))
        .filter(col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.select(col("source").as("src_a"), col("nv").as("na")), "src_a")
        .join(sizes.select(col("source").as("src_b"), col("nv").as("nb")), "src_b")
        .select(col("src_a"), col("src_b"), col("na"), col("nb"), col("inter"),
          (col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double"))
            .as("jaccard"))
        .orderBy("src_a", "src_b")
    },
    Some("""WITH posts AS (SELECT DISTINCT source, t.term
        FROM documents, unnest(string_split(text, ' ')) AS t(term)
        WHERE length(t.term) > 0),
      sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nv
                FROM posts GROUP BY 1),
      inter AS (SELECT a.source AS src_a, b.source AS src_b,
                  CAST(COUNT(*) AS BIGINT) AS inter
        FROM posts a JOIN posts b USING (term)
        WHERE a.source < b.source GROUP BY 1, 2)
      SELECT src_a, src_b, sa.nv AS na, sb.nv AS nb, inter,
        CAST(inter AS DOUBLE) / CAST(sa.nv + sb.nv - inter AS DOUBLE) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.source = src_a
      JOIN sizes sb ON sb.source = src_b
      ORDER BY src_a, src_b"""),
    covers = Seq("TEXT-vocab-overlap"))

  // ------------------------------------------------- weighted overlap
  // Multiset (weighted) Jaccard between source vocabularies:
  // Σ min(c_a, c_b) / Σ max(c_a, c_b) over term FREQUENCIES — q271's
  // set version says whether two corpora share words; this says
  // whether they USE them alike (a source quoting another's rare
  // terms once scores low here). A FULL OUTER join on term per pair
  // would explode, so the identity Σmax = n_a + n_b − Σmin turns the
  // problem into an INNER join on shared terms plus per-source
  // totals — exactly the q271 plan shape, integer end to end, one
  // closing division.
  private val q277 = QueryDef(
    "q277_weighted_vocab_overlap",
    (s, dir) => {
      val counts = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("source", "term").agg(count(lit(1)).as("c"))
      val totals = counts.groupBy("source").agg(sum(col("c")).as("nt"))
      val inter = counts.as("a")
        .join(counts.as("b"), Seq("term"))
        .filter(col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(sum(least(col("a.c"), col("b.c"))).as("sum_min"))
      inter
        .join(totals.select(col("source").as("src_a"), col("nt").as("na")),
          "src_a")
        .join(totals.select(col("source").as("src_b"), col("nt").as("nb")),
          "src_b")
        .select(col("src_a"), col("src_b"), col("sum_min"),
          (col("na") + col("nb") - col("sum_min")).as("sum_max"),
          (col("sum_min").cast("double") /
            (col("na") + col("nb") - col("sum_min")).cast("double"))
            .as("weighted_jaccard"))
        .orderBy("src_a", "src_b")
    },
    Some("""WITH counts AS (SELECT source, t.term, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents, unnest(string_split(text, ' ')) AS t(term)
        WHERE length(t.term) > 0 GROUP BY 1, 2),
      totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS nt
                 FROM counts GROUP BY 1),
      inter AS (SELECT a.source AS src_a, b.source AS src_b,
                  CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS sum_min
        FROM counts a JOIN counts b USING (term)
        WHERE a.source < b.source GROUP BY 1, 2)
      SELECT src_a, src_b, sum_min,
        ta.nt + tb.nt - sum_min AS sum_max,
        CAST(sum_min AS DOUBLE) / CAST(ta.nt + tb.nt - sum_min AS DOUBLE)
          AS weighted_jaccard
      FROM inter
      JOIN totals ta ON ta.source = src_a
      JOIN totals tb ON tb.source = src_b
      ORDER BY src_a, src_b"""),
    covers = Seq("TEXT-weighted-overlap"))

  // ------------------------------------------------- vocab growth
  // Heaps'-law curve: how fast does the SHINGLE vocabulary grow as
  // documents stream in doc_id order? (Word unigrams saturate within
  // the first handful of docs on this corpus — trigram shingles, the
  // dedup family's unit, keep growing and show the real curve.) Each
  // shingle's FIRST document (an exact min() — duplicate-insensitive)
  // assigns it to a 25-doc bucket; new-shingle counts per bucket plus
  // a running window give the cumulative vocabulary — all integers,
  // and the running sum is over the bucket grain, not the corpus. The
  // curve flattening is the diminishing-returns signal data curation
  // reads before adding more of a source.
  private val q281 = QueryDef(
    "q281_vocab_growth",
    (s, dir) => {
      val sh = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.WordShingles(col("text"), 3)).as("sh"))
      val firstDoc = sh.groupBy("sh").agg(min(col("doc_id")).as("first_doc"))
      val buckets = firstDoc
        .groupBy(expr("first_doc div 25").as("bucket"))
        .agg(count(lit(1)).as("new_shingles"))
      val w = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
      buckets
        .withColumn("cum_vocab", sum(col("new_shingles")).over(w))
        .select(col("bucket"), col("new_shingles"), col("cum_vocab"))
        .orderBy("bucket")
    },
    Some("""WITH sh AS (
        SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             unnest(range(1, greatest(len(tk) - 1, 1))) r(i)
        WHERE len(tk) >= 3),
      firstdoc AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
      buckets AS (SELECT first_doc // 25 AS bucket,
          CAST(COUNT(*) AS BIGINT) AS new_shingles
        FROM firstdoc GROUP BY 1)
      SELECT bucket, new_shingles,
        CAST(SUM(new_shingles) OVER (ORDER BY bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_vocab
      FROM buckets ORDER BY bucket"""),
    covers = Seq("TEXT-vocab-growth"))

  // ------------------------------------------------- corpus datasheet
  // The per-source datasheet a curated corpus ships with — one row
  // per source joining the engine's quality families: volume (docs,
  // tokens), exact-duplicate rate (md5 groups, q21's rule), length
  // profile (mean chars), language purity (majority-language share,
  // a total-order modal pick), and lexical concentration (Simpson's
  // index, q269's integer-rational form). Every ingredient is an
  // exact count or DECIMAL sum; each ratio closes with one division.
  // Five aggregates join on the 20-row source grain — dimension-sized
  // from the first shuffle on.
  private val q300 = QueryDef(
    "q300_corpus_datasheet",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val base = d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      val toks = d.select(col("source"),
          explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      val tokStats = toks.groupBy("source", "term")
        .agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_terms"),
          sum(col("c") * (col("c") - 1L)).as("s_num"))
      val dups = d.groupBy(col("source"), md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n"))
        .groupBy("source")
        .agg(sum(col("n") - 1L).as("n_exact_dups"))
      val langRank = d.groupBy("source", "lang")
        .agg(count(lit(1)).as("nl"))
        .withColumn("lr", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("source")
            .orderBy(desc("nl"), asc("lang"))))
        .filter(col("lr") === 1)
        .select(col("source"), col("lang").as("top_lang"),
          col("nl").as("top_lang_docs"))
      base.join(tokStats, "source").join(dups, "source").join(langRank, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"), col("n_terms"),
          (col("total_chars").cast("double") / col("n_docs").cast("double"))
            .as("mean_chars"),
          col("n_exact_dups"),
          (col("n_exact_dups").cast("double") / col("n_docs").cast("double"))
            .as("dup_rate"),
          col("top_lang"),
          (col("top_lang_docs").cast("double") / col("n_docs").cast("double"))
            .as("lang_purity"),
          (col("s_num").cast("double") /
            (col("n_tokens").cast("double")
              * (col("n_tokens") - 1L).cast("double"))).as("simpson"))
        .orderBy("source")
    },
    Some("""WITH base AS (SELECT source,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY 1),
      tok AS (SELECT source, t.term
        FROM documents, unnest(string_split(text, ' ')) AS t(term)
        WHERE length(t.term) > 0),
      tc AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
             FROM tok GROUP BY 1, 2),
      tok_stats AS (SELECT source,
          CAST(SUM(c) AS BIGINT) AS n_tokens,
          CAST(COUNT(*) AS BIGINT) AS n_terms,
          CAST(SUM(c * (c - 1)) AS BIGINT) AS s_num
        FROM tc GROUP BY 1),
      dups AS (SELECT source, CAST(SUM(n - 1) AS BIGINT) AS n_exact_dups
        FROM (SELECT source, md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS n
              FROM documents GROUP BY 1, 2)
        GROUP BY 1),
      lang_rank AS (SELECT source, lang AS top_lang, nl AS top_lang_docs
        FROM (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS nl,
                ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY COUNT(*) DESC, lang ASC) AS lr
              FROM documents GROUP BY 1, 2)
        WHERE lr = 1)
      SELECT b.source, b.n_docs, t.n_tokens, t.n_terms,
        CAST(b.total_chars AS DOUBLE) / CAST(b.n_docs AS DOUBLE) AS mean_chars,
        d.n_exact_dups,
        CAST(d.n_exact_dups AS DOUBLE) / CAST(b.n_docs AS DOUBLE) AS dup_rate,
        l.top_lang,
        CAST(l.top_lang_docs AS DOUBLE) / CAST(b.n_docs AS DOUBLE)
          AS lang_purity,
        CAST(t.s_num AS DOUBLE) /
          (CAST(t.n_tokens AS DOUBLE) * CAST(t.n_tokens - 1 AS DOUBLE))
          AS simpson
      FROM base b
      JOIN tok_stats t ON t.source = b.source
      JOIN dups d ON d.source = b.source
      JOIN lang_rank l ON l.source = b.source
      ORDER BY b.source"""),
    covers = Seq("TEXT-datasheet"))

  // ------------------------------------------------- Zipf audit
  // Does the corpus vocabulary follow Zipf? rank·frequency should be
  // ~constant; the audit reports it as a ratio against the top term's
  // frequency — pure rational arithmetic (no log-log regression: ln()
  // differs in the last ULP across libm implementations, see q52).
  // Top-50 selects via TakeOrderedAndProject on the (freq, term) total
  // order — the global window ranks only the 50 survivors, not the
  // vocabulary.
  private val q306 = QueryDef(
    "q306_zipf_audit",
    (s, dir) => {
      val tf = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("freq"))
      val m = tf.agg(max(col("freq")).as("mf"))
      val top = tf.orderBy(desc("freq"), asc("term")).limit(50)
      val w = Window.orderBy(desc("freq"), asc("term"))
      top.withColumn("rank", row_number().over(w).cast(LongType))
        .crossJoin(broadcast(m))
        .select(col("rank"), col("term"), col("freq"),
          ((col("rank") * col("freq")).cast("double") / col("mf").cast("double"))
            .as("zipf_ratio"))
        .orderBy("rank")
    },
    Some("""WITH tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY term),
      m AS (SELECT MAX(freq) AS mf FROM tf),
      r AS (SELECT term, freq,
          CAST(row_number() OVER (ORDER BY freq DESC, term) AS BIGINT) AS rank
        FROM tf)
      SELECT rank, term, freq,
        CAST(rank * freq AS DOUBLE) / CAST(mf AS DOUBLE) AS zipf_ratio
      FROM r, m WHERE rank <= 50
      ORDER BY rank"""),
    covers = Seq("TXT-zipf"))

  // ------------------------------------------------- mixture reweighting
  // The downsample-only plan to a uniform source mixture: per source
  // its actual share, the keep-probability multiplier min(1, target/
  // actual), and the integral kept-count floor(N²/(S·n)) — computed
  // with DECIMAL(38,0)/HUGEINT integral division so N² stays exact
  // past int64 (10¹² docs). Two aggregates and a broadcast scalar —
  // no per-row work at all.
  private val q310 = QueryDef(
    "q310_mixture_reweight",
    (s, dir) => {
      val per = t(s, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
      val tot = per.agg(sum(col("n_docs")).as("nn"), count(lit(1)).as("ss"))
      per.crossJoin(broadcast(tot))
        .selectExpr(
          "source", "n_docs",
          "CAST(n_docs AS DOUBLE) / CAST(nn AS DOUBLE) AS share",
          "LEAST(CAST(1 AS DOUBLE), (CAST(1 AS DOUBLE) / CAST(ss AS DOUBLE))" +
            " / (CAST(n_docs AS DOUBLE) / CAST(nn AS DOUBLE))) AS multiplier",
          "LEAST(n_docs, (CAST(nn AS DECIMAL(38,0)) * CAST(nn AS DECIMAL(38,0)))" +
            " DIV (CAST(ss AS DECIMAL(38,0)) * CAST(n_docs AS DECIMAL(38,0))))" +
            " AS kept")
        .orderBy("source")
    },
    Some("""WITH per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY source),
      tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nn,
          CAST(COUNT(*) AS BIGINT) AS ss FROM per)
      SELECT source, n_docs,
        CAST(n_docs AS DOUBLE) / CAST(nn AS DOUBLE) AS share,
        LEAST(CAST(1 AS DOUBLE), (CAST(1 AS DOUBLE) / CAST(ss AS DOUBLE))
          / (CAST(n_docs AS DOUBLE) / CAST(nn AS DOUBLE))) AS multiplier,
        LEAST(n_docs, CAST((CAST(nn AS HUGEINT) * CAST(nn AS HUGEINT))
          // (CAST(ss AS HUGEINT) * CAST(n_docs AS HUGEINT)) AS BIGINT)) AS kept
      FROM per, tot
      ORDER BY source"""),
    covers = Seq("MIX-reweight"))

  // ------------------------------------------------- rare-token docs
  // OCR-garbage / junk detector: a document whose RAREST token has a
  // low document frequency is carrying vocabulary little else shares.
  // Per doc, min document-frequency over its distinct terms; grouped
  // by that exact min-df (bounded by the distinct df values of the
  // vocabulary, not by corpus size), with doc count and exact mean
  // length per group. df joins back to postings on the term key —
  // high-cardinality, no skew; everything else aggregates map-side.
  private val q313 = QueryDef(
    "q313_rare_token_docs",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val post = d.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term")).distinct()
      val df = post.groupBy("term").agg(count(lit(1)).as("df"))
      val minDf = post.join(df, Seq("term"))
        .groupBy("doc_id").agg(min(col("df")).as("min_df"))
      minDf.join(d.select("doc_id", "n_chars"), Seq("doc_id"))
        .groupBy("min_df")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("schars"))
        .select(col("min_df"), col("n_docs"),
          (col("schars").cast("double") / col("n_docs").cast("double"))
            .as("mean_chars"))
        .orderBy("min_df")
    },
    Some("""WITH post AS (SELECT DISTINCT doc_id, term
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents)),
      df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM post
             GROUP BY term),
      md AS (SELECT doc_id, MIN(df) AS min_df
             FROM post JOIN df USING (term) GROUP BY doc_id),
      b AS (SELECT min_df, n_chars
            FROM md JOIN documents USING (doc_id))
      SELECT min_df, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_chars
      FROM b GROUP BY min_df ORDER BY min_df"""),
    covers = Seq("TXT-rare-token"))

  // ------------------------------------------------- token position
  // Where in a document does each top term live? Normalized mean
  // position (Σpos / Σ(len−1) over its occurrences, 0 = opening,
  // 1 = closing) for the 20 most frequent terms — openers vs closers
  // in the vocabulary. Positions come from posexplode; both sums are
  // exact longs.
  private val q331 = QueryDef(
    "q331_token_position_stats",
    (s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"), size(col("tk")).cast(LongType).as("len"),
          posexplode(col("tk")).as(Seq("pos", "term")))
        .filter(col("len") > 1)
      val g = base.groupBy("term")
        .agg(count(lit(1)).as("freq"),
          sum(col("pos").cast(LongType)).as("spos"),
          sum(col("len").cast(LongType) - 1L).as("sden"))
      g.orderBy(desc("freq"), asc("term")).limit(20)
        .select(col("term"), col("freq"),
          (col("spos").cast("double") / col("sden").cast("double"))
            .as("mean_rel_pos"))
        .orderBy(desc("freq"), asc("term"))
    },
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
          FROM documents),
      mx AS (SELECT MAX(len(tk)) AS m FROM d),
      toks AS (SELECT doc_id, s.i - 1 AS pos, tk[s.i] AS term, len(tk) AS len
        FROM d, (SELECT unnest(generate_series(1, (SELECT m FROM mx))) AS i) s
        WHERE s.i <= len(tk) AND len(tk) > 1),
      g AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq,
          CAST(SUM(pos) AS BIGINT) AS spos,
          CAST(SUM(len - 1) AS BIGINT) AS sden
        FROM toks GROUP BY term)
      SELECT term, freq,
        CAST(spos AS DOUBLE) / CAST(sden AS DOUBLE) AS mean_rel_pos
      FROM g ORDER BY freq DESC, term LIMIT 20"""),
    covers = Seq("TXT-positional"))

  // ------------------------------------------------- postings gaps
  // Inverted-index compressibility audit: for each top-20 term, the
  // doc_id postings-list delta-gap statistics (mean gap from the
  // span/(n−1) identity — no per-gap pass — and the exact max gap
  // from one lag window). Small mean gaps = dense postings = cheap
  // delta encoding; the table says which terms index well.
  private val q348 = QueryDef(
    "q348_postings_gaps",
    (s, dir) => {
      val post = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .distinct()
      val top = post.groupBy("term").agg(count(lit(1)).as("df"))
        .orderBy(desc("df"), asc("term")).limit(20)
      val w = Window.partitionBy("term").orderBy("doc_id")
      val gaps = post.join(broadcast(top), Seq("term"))
        .withColumn("gap", col("doc_id") - lag(col("doc_id"), 1).over(w))
      gaps.groupBy("term")
        .agg(first(col("df")).as("df"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"),
          max(col("gap")).as("max_gap"))
        .select(col("term"), col("df"), col("max_gap"),
          ((col("last_doc") - col("first_doc")).cast("double") /
            (col("df") - 1L).cast("double")).as("mean_gap"))
        .orderBy(desc("df"), asc("term"))
    },
    Some("""WITH post AS (SELECT DISTINCT doc_id, term
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents)),
      top AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
              FROM post GROUP BY term
              ORDER BY df DESC, term LIMIT 20),
      gaps AS (SELECT post.term, df, doc_id,
          doc_id - lag(doc_id) OVER (PARTITION BY post.term ORDER BY doc_id)
            AS gap
        FROM post JOIN top USING (term))
      SELECT term, CAST(MIN(df) AS BIGINT) AS df,
        CAST(MAX(gap) AS BIGINT) AS max_gap,
        CAST(MAX(doc_id) - MIN(doc_id) AS DOUBLE)
          / CAST(MIN(df) - 1 AS DOUBLE) AS mean_gap
      FROM gaps GROUP BY term
      ORDER BY df DESC, term"""),
    covers = Seq("TXT-postings-gaps"))

  // ------------------------------------------------- template census
  // Boilerplate detection by opening phrase: documents grouped by
  // their first three words; the top-20 most reused openings with
  // doc counts, distinct sources, and distinct full texts — a reused
  // opening across many sources with few distinct texts IS a
  // template. One groupBy at prefix cardinality.
  private val q366 = QueryDef(
    "q366_template_census",
    (s, dir) => {
      val pre = t(s, dir, "documents")
        .withColumn("opening",
          concat_ws(" ", slice(split(col("text"), " "), 1, 3)))
      pre.groupBy("opening")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("text")).as("n_texts"))
        .orderBy(desc("n_docs"), asc("opening")).limit(20)
        .withColumn("reuse_ratio",
          col("n_docs").cast("double") / col("n_texts").cast("double"))
        .orderBy(desc("n_docs"), asc("opening"))
    },
    Some("""WITH pre AS (SELECT source, text,
          array_to_string(string_split(text, ' ')[1:3], ' ') AS opening
        FROM documents),
      g AS (SELECT opening, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
          CAST(COUNT(DISTINCT text) AS BIGINT) AS n_texts
        FROM pre GROUP BY opening
        ORDER BY n_docs DESC, opening LIMIT 20)
      SELECT opening, n_docs, n_sources, n_texts,
        CAST(n_docs AS DOUBLE) / CAST(n_texts AS DOUBLE) AS reuse_ratio
      FROM g ORDER BY n_docs DESC, opening"""),
    covers = Seq("TXT-template-census"))

  // ------------------------------------------------- part-name lift
  // Dimension-text mining: which words in part NAMES associate with
  // higher unit revenue? Token-level mean line revenue vs the global
  // mean (exact DECIMAL sums through one division each), top-15 by
  // support. The name explode happens at part cardinality, then joins
  // the fact once on partkey.
  private val q370 = QueryDef(
    "q370_part_name_lift",
    (s, dir) => {
      val rev = (dec(col("l_extendedprice")) *
        (dec(lit(1)) -
          dec(col("l_discount")))).cast(DecimalType(18, 4))
      val li = t(s, dir, "lineitem").select(col("l_partkey"), rev.as("r"))
      val tok = t(s, dir, "part")
        .select(col("p_partkey"), explode(split(col("p_name"), " "))
          .as("word"))
      val g = li.join(tok, col("l_partkey") === col("p_partkey"))
        .groupBy("word")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("r")).cast(DecimalType(38, 4)).as("wrev"))
      val tot = li.agg(count(lit(1)).as("tn"),
        sum(col("r")).cast(DecimalType(38, 4)).as("tr"))
      g.crossJoin(broadcast(tot))
        .orderBy(desc("n_lines"), asc("word")).limit(15)
        .select(col("word"), col("n_lines"),
          (col("wrev").cast("double") / col("n_lines").cast("double"))
            .as("mean_rev"),
          ((col("wrev").cast("double") / col("n_lines").cast("double")) /
            (col("tr").cast("double") / col("tn").cast("double")))
            .as("lift"))
        .orderBy(desc("n_lines"), asc("word"))
    },
    Some("""WITH li AS (SELECT l_partkey,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4)) AS r
        FROM lineitem),
      tok AS (SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word
              FROM part),
      g AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_lines,
          CAST(SUM(r) AS DECIMAL(38,4)) AS wrev
        FROM li JOIN tok ON l_partkey = p_partkey
        GROUP BY word),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tn,
          CAST(SUM(r) AS DECIMAL(38,4)) AS tr FROM li),
      top AS (SELECT * FROM g, tot ORDER BY n_lines DESC, word LIMIT 15)
      SELECT word, n_lines,
        CAST(wrev AS DOUBLE) / CAST(n_lines AS DOUBLE) AS mean_rev,
        (CAST(wrev AS DOUBLE) / CAST(n_lines AS DOUBLE))
          / (CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE)) AS lift
      FROM top ORDER BY n_lines DESC, word"""),
    covers = Seq("TXT-dim-mining"))

  // ------------------------------------------------- quality funnel
  // The quality-filter funnel as a 2³ census: short (<100 chars),
  // high digit density (>10% of chars), low lexical diversity
  // (distinct tokens ≤ half of tokens) — every flag combination with
  // its doc count. Digit counts come from length-difference after
  // regexp_replace; all exact integers.
  private val q382 = QueryDef(
    "q382_quality_flag_funnel",
    (s, dir) => {
      val toks = split(col("text"), " ")
      val d = t(s, dir, "documents").select(
        (col("n_chars") < 100).as("too_short"),
        ((length(col("text")) -
          length(regexp_replace(col("text"), "[0-9]", "")))
          * 10 > length(col("text"))).as("digit_heavy"),
        (size(array_distinct(toks)) * 2 <= size(toks)).as("low_diversity"))
      val tot = d.count()
      d.groupBy("too_short", "digit_heavy", "low_diversity")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("share",
          col("n_docs").cast("double") / lit(tot.toDouble))
        .orderBy("too_short", "digit_heavy", "low_diversity")
    },
    Some("""WITH d AS (SELECT
          n_chars < 100 AS too_short,
          (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
            * 10 > length(text) AS digit_heavy,
          len(list_distinct(string_split(text, ' '))) * 2
            <= len(string_split(text, ' ')) AS low_diversity
        FROM documents),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM d)
      SELECT too_short, digit_heavy, low_diversity,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(*) AS DOUBLE) / CAST(MIN(t) AS DOUBLE) AS share
      FROM d, tot
      GROUP BY too_short, digit_heavy, low_diversity
      ORDER BY too_short, digit_heavy, low_diversity"""),
    covers = Seq("TXT-quality-funnel"))

  // ------------------------------------------------- shingle df spectrum
  // The boilerplate spectrum: 3-gram shingles by document frequency
  // (1 = unique content, 10+ = template mass), with the share of
  // shingle TYPES in each band — the one-glance answer to "how much
  // of this corpus is copy-paste".
  private val q395 = QueryDef(
    "q395_shingle_df_spectrum",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val sh = d.select(col("doc_id"),
        explode(graft.functions.WordShingles(col("text"), 3))
          .as("s")).distinct()
      val df = sh.groupBy("s").agg(count(lit(1)).as("df"))
        .withColumn("band", least(col("df"), lit(10L)))
      val tot = df.agg(count(lit(1)).as("ts"))
      df.groupBy("band")
        .agg(count(lit(1)).as("n_shingles"))
        .crossJoin(broadcast(tot))
        .select(col("band"), col("n_shingles"),
          (col("n_shingles").cast("double") / col("ts").cast("double"))
            .as("type_share"))
        .orderBy("band")
    },
    Some("""WITH toksrc AS (SELECT doc_id, string_split(text, ' ') AS tk
          FROM documents),
      sh AS (SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
                      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
             FROM toksrc WHERE len(tk) >= 3),
      df AS (SELECT s, LEAST(CAST(COUNT(*) AS BIGINT), 10) AS band
             FROM sh GROUP BY s),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS ts FROM df)
      SELECT band, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        CAST(COUNT(*) AS DOUBLE) / CAST(MIN(ts) AS DOUBLE) AS type_share
      FROM df, tot GROUP BY band
      ORDER BY band"""),
    covers = Seq("TXT-df-spectrum"))

  // ------------------------------------------------- brevity law
  // Zipf's law of abbreviation: frequent words should be SHORTER.
  // Tokens ranked into frequency quintiles (unique (freq, term)
  // order), each quintile's exact mean character length — the
  // linguistic sanity check that synthetic corpora often fail.
  private val q398 = QueryDef(
    "q398_brevity_law",
    (s, dir) => {
      val tf = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("freq"))
        .withColumn("tlen", length(col("term")).cast(LongType))
      val w = Window.orderBy(desc("freq"), asc("term"))
      tf.withColumn("quintile", ntile(5).over(w).cast(LongType))
        .groupBy("quintile")
        .agg(count(lit(1)).as("n_terms"),
          sum(col("freq")).as("occurrences"),
          sum(col("tlen")).as("slen"))
        .select(col("quintile"), col("n_terms"), col("occurrences"),
          (col("slen").cast("double") / col("n_terms").cast("double"))
            .as("mean_term_len"))
        .orderBy("quintile")
    },
    Some("""WITH tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq,
          CAST(length(term) AS BIGINT) AS tlen
        FROM (SELECT unnest(string_split(text, ' ')) AS term
              FROM documents)
        GROUP BY term),
      q AS (SELECT *, CAST(ntile(5) OVER (ORDER BY freq DESC, term)
          AS BIGINT) AS quintile FROM tf)
      SELECT quintile, CAST(COUNT(*) AS BIGINT) AS n_terms,
        CAST(SUM(freq) AS BIGINT) AS occurrences,
        CAST(SUM(tlen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          AS mean_term_len
      FROM q GROUP BY quintile
      ORDER BY quintile"""),
    covers = Seq("TXT-brevity-law"))

  // ------------------------------------------------- token branching
  // Language-model branching statistics per source: for each token,
  // its distinct-successor count and most-likely-successor mass from
  // in-row bigrams; per source, the frequency-weighted mean branching
  // factor (a perplexity proxy with no logs) and the top-successor
  // concentration Σ max_c / Σ c. Bigrams are built in-row (no
  // position self-join) — the only shuffles are the two counts.
  private val q401 = QueryDef(
    "q401_token_branching",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("source"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 2)
      val bg = d.select(col("source"),
        explode(expr("transform(sequence(1, size(tk) - 1), " +
          "i -> named_struct('prev', element_at(tk, i), " +
          "'nxt', element_at(tk, i + 1)))")).as("p"))
        .select(col("source"), col("p.prev"), col("p.nxt"))
      val succ = bg.groupBy("source", "prev", "nxt")
        .agg(count(lit(1)).as("c"))
      val perPrev = succ.groupBy("source", "prev")
        .agg(count(lit(1)).as("n_succ"), sum(col("c")).as("c_tot"),
          max(col("c")).as("c_max"))
      perPrev.groupBy("source")
        .agg(count(lit(1)).as("n_prev_types"),
          sum(col("c_tot")).as("n_bigrams"),
          sum(col("c_tot") * col("n_succ")).as("wb_num"),
          sum(col("c_max")).as("top_mass"))
        .select(col("source"), col("n_prev_types"), col("n_bigrams"),
          (col("wb_num").cast("double") / col("n_bigrams").cast("double"))
            .as("weighted_branching"),
          (col("top_mass").cast("double") / col("n_bigrams").cast("double"))
            .as("top_succ_share"))
        .orderBy("source")
    },
    Some("""WITH t AS (SELECT source, string_split(text, ' ') AS tk
          FROM documents WHERE len(string_split(text, ' ')) >= 2),
      b AS (SELECT source, unnest(list_zip(tk[1:len(tk)-1], tk[2:len(tk)]))
          AS bg FROM t),
      succ AS (SELECT source, bg[1] AS prev, bg[2] AS nxt,
          CAST(COUNT(*) AS BIGINT) AS c
        FROM b GROUP BY 1, 2, 3),
      pp AS (SELECT source, prev, CAST(COUNT(*) AS BIGINT) AS n_succ,
          CAST(SUM(c) AS BIGINT) AS c_tot, CAST(MAX(c) AS BIGINT) AS c_max
        FROM succ GROUP BY source, prev)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_prev_types,
        CAST(SUM(c_tot) AS BIGINT) AS n_bigrams,
        CAST(SUM(c_tot * n_succ) AS DOUBLE) / CAST(SUM(c_tot) AS DOUBLE)
          AS weighted_branching,
        CAST(SUM(c_max) AS DOUBLE) / CAST(SUM(c_tot) AS DOUBLE)
          AS top_succ_share
      FROM pp GROUP BY source ORDER BY source"""),
    covers = Seq("TXT-branching"))

  // ------------------------------------------------- BM25
  // Okapi BM25 top-3 terms per document (first 50 docs) with the
  // rational idf variant (N−df+0.5)/(df+0.5) — no ln, so the score
  // is a pure division/multiplication tree over exact corpus counts
  // and both engines produce bit-identical doubles. k1=1.2, b=0.75
  // folded to literal constants on both sides; df/avgdl computed
  // over the FULL corpus, scoring restricted to bound the output.
  private val q434 = QueryDef(
    "q434_bm25_topterms",
    (s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val corpus = dl.agg(sum("dl").as("total_tok"),
        count(lit(1)).as("n_docs"))
      val scored = tf.filter(col("doc_id") < 50)
        .join(dl, Seq("doc_id"))
        .join(dft, Seq("term"))
        .crossJoin(broadcast(corpus))
        .withColumn("score",
          (((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5))) *
          ((col("tf").cast("double") * lit(2.2)) /
            (col("tf").cast("double") + lit(1.2) * (lit(0.25) +
              lit(0.75) * (col("dl").cast("double") /
                (col("total_tok").cast("double") /
                  col("n_docs").cast("double")))))))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      scored.withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term"), col("score"))
        .orderBy("doc_id", "rk")
    },
    Some("""WITH tok AS (SELECT doc_id,
          unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY 1, 2),
      dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
        FROM tok GROUP BY 1),
      df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        FROM tf GROUP BY 1),
      corpus AS (SELECT CAST(SUM(dl) AS BIGINT) AS total_tok,
          CAST(COUNT(*) AS BIGINT) AS n_docs FROM dl),
      scored AS (SELECT t.doc_id, t.term,
          ((CAST(c.n_docs - f.df AS DOUBLE) + 0.5) /
            (CAST(f.df AS DOUBLE) + 0.5)) *
          ((CAST(t.tf AS DOUBLE) * 2.2) /
            (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 +
              0.75 * (CAST(d.dl AS DOUBLE) /
                (CAST(c.total_tok AS DOUBLE) /
                  CAST(c.n_docs AS DOUBLE)))))) AS score
        FROM tf t JOIN dl d USING (doc_id) JOIN df f USING (term)
        CROSS JOIN corpus c
        WHERE t.doc_id < 50),
      rk AS (SELECT doc_id, term, score,
          CAST(row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, term) AS BIGINT) AS rk
        FROM scored)
      SELECT doc_id, rk, term, score FROM rk
      WHERE rk <= 3 ORDER BY doc_id, rk"""),
    covers = Seq("TEXT-bm25"))

  // ------------------------------------------------- DP dispersion
  // Gries' "deviation of proportions" for the top-20 terms across
  // sources: DP = Σ|observed share − expected share| / 2, where the
  // expected share of source i is its share of all tokens. Each
  // |o_i − s_i| is kept as the exact integer |c_i·T − t_i·C| over
  // the common denominator C·T, so the sum is order-free and the
  // single final division is deterministic. DP≈0 ⇒ the term is
  // spread like the corpus; DP→1 ⇒ concentrated in one source.
  private val q436 = QueryDef(
    "q436_dp_dispersion",
    (s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
      val bySrc = tok.groupBy("source", "term").agg(count(lit(1)).as("c"))
      val srcTot = tok.groupBy("source").agg(count(lit(1)).as("t_i"))
      val glob = bySrc.groupBy("term").agg(sum("c").as("ctot"))
      val totals = srcTot.agg(sum("t_i").as("tt"))
      val top = glob.orderBy(col("ctot").desc, col("term")).limit(20)
      top.crossJoin(broadcast(srcTot))
        .join(bySrc, Seq("term", "source"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .crossJoin(broadcast(totals))
        .withColumn("num",
          abs(col("c") * col("tt") - col("t_i") * col("ctot")))
        .groupBy("term", "ctot", "tt")
        .agg(sum("num").as("sn"))
        .select(col("term"), col("ctot").as("n_total"),
          (col("sn").cast("double") /
            (lit(2L) * col("ctot") * col("tt")).cast("double")).as("dp"))
        .orderBy(col("dp").desc, col("term"))
    },
    Some("""WITH tok AS (SELECT source,
          unnest(string_split(text, ' ')) AS term FROM documents),
      by_src AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2),
      src_tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS t_i
        FROM tok GROUP BY 1),
      gt AS (SELECT term, CAST(SUM(c) AS BIGINT) AS ctot
        FROM by_src GROUP BY 1),
      totals AS (SELECT CAST(SUM(t_i) AS BIGINT) AS tt FROM src_tot),
      top AS (SELECT term, ctot FROM gt
        ORDER BY ctot DESC, term LIMIT 20),
      grid AS (SELECT tp.term, tp.ctot, st.source, st.t_i,
          COALESCE(bs.c, 0) AS c, tl.tt
        FROM top tp CROSS JOIN src_tot st
        LEFT JOIN by_src bs ON bs.term = tp.term AND bs.source = st.source
        CROSS JOIN totals tl),
      agg AS (SELECT term, ctot, tt,
          CAST(SUM(ABS(c * tt - t_i * ctot)) AS BIGINT) AS sn
        FROM grid GROUP BY 1, 2, 3)
      SELECT term, ctot AS n_total,
        CAST(sn AS DOUBLE) / CAST(2 * ctot * tt AS DOUBLE) AS dp
      FROM agg ORDER BY dp DESC, term"""),
    covers = Seq("TEXT-dp-dispersion"))

  // ------------------------------------------------- water-filling
  // Token-budget mixture plan: cap every source at a common level t
  // so the kept corpus hits a 50% token budget — the water-filling
  // allocation behind "no source may dominate the mix". The
  // crossing source is found by the exact integer comparison
  // tok·(n−rn+1) > B − cum_before on the ascending-size order, so
  // the level t = (B − cum_before*)/(n − rn* + 1) is the only
  // division in the plan. Everything is |sources|-sized after one
  // token-count aggregate.
  private val q447 = QueryDef(
    "q447_token_budget_waterfill",
    (s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("source"), size(split(col("text"), " ")).as("ntok"))
        .groupBy("source").agg(sum(col("ntok").cast(LongType)).as("tok"))
      val w = Window.orderBy(col("tok"), col("source"))
      val ranked = tok
        .withColumn("rn", row_number().over(w).cast(LongType))
        .withColumn("cum", sum("tok").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cum_before", col("cum") - col("tok"))
      val tot = tok.agg(sum("tok").as("total"), count(lit(1)).as("n"))
        .withColumn("budget", expr("total DIV 2"))
      val flagged = ranked.crossJoin(broadcast(tot))
        .withColumn("capped_here",
          col("tok") * (col("n") - col("rn") + 1L) >
            col("budget") - col("cum_before"))
      val star = flagged.filter(col("capped_here"))
        .agg(min("rn").as("rn_star"))
      val level = flagged.join(broadcast(star),
          col("rn") === col("rn_star"))
        .select(col("rn_star"),
          ((col("budget") - col("cum_before")).cast("double") /
            (col("n") - col("rn_star") + 1L).cast("double")).as("t_level"))
      flagged.crossJoin(broadcast(level))
        .withColumn("capped", col("rn") >= col("rn_star"))
        .select(col("source"), col("tok").as("tokens"), col("capped"),
          when(col("capped"), col("t_level"))
            .otherwise(col("tok").cast("double")).as("kept"),
          (when(col("capped"), col("t_level"))
            .otherwise(col("tok").cast("double")) /
            col("tok").cast("double")).as("kept_share"))
        .orderBy("source")
    },
    Some("""WITH tok AS (SELECT source,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok
        FROM documents GROUP BY source),
      ranked AS (SELECT source, tok,
          CAST(row_number() OVER (ORDER BY tok, source) AS BIGINT) AS rn,
          CAST(SUM(tok) OVER (ORDER BY tok, source
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum
        FROM tok),
      tot AS (SELECT CAST(SUM(tok) AS BIGINT) AS total,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(tok) // 2 AS BIGINT) AS budget
        FROM tok),
      flagged AS (SELECT r.source, r.tok, r.rn, r.cum - r.tok AS cum_before,
          t.n, t.budget,
          (r.tok * (t.n - r.rn + 1) > t.budget - (r.cum - r.tok))
            AS capped_here
        FROM ranked r CROSS JOIN tot t),
      star AS (SELECT MIN(rn) AS rn_star FROM flagged WHERE capped_here),
      lvl AS (SELECT s.rn_star,
          CAST(f.budget - f.cum_before AS DOUBLE) /
            CAST(f.n - s.rn_star + 1 AS DOUBLE) AS t_level
        FROM flagged f JOIN star s ON f.rn = s.rn_star)
      SELECT f.source, f.tok AS tokens, (f.rn >= l.rn_star) AS capped,
        CASE WHEN f.rn >= l.rn_star THEN l.t_level
          ELSE CAST(f.tok AS DOUBLE) END AS kept,
        CASE WHEN f.rn >= l.rn_star THEN l.t_level
          ELSE CAST(f.tok AS DOUBLE) END / CAST(f.tok AS DOUBLE)
          AS kept_share
      FROM flagged f CROSS JOIN lvl l ORDER BY f.source"""),
    covers = Seq("LLM-waterfill-budget"))

  // ------------------------------------------------- Burrows' Delta
  // Stylometric source attribution: z-score profiles of the top-20
  // terms across the 20 sources (means/deviations via source-ordered
  // folds), Delta(a,b) = mean |z_a − z_b| folded in term order, and
  // each source's nearest stylistic neighbor. The classic
  // authorship-attribution distance, exactly gated.
  private val q495 = QueryDef(
    "q495_burrows_delta",
    (s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .localCheckpoint()
      val srcTot = tok.groupBy("source").agg(count(lit(1)).as("tot"))
      val topTerms = tok.groupBy("term").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("term")).limit(20)
        .select("term")
      val cst = topTerms.crossJoin(srcTot)
        .join(tok.groupBy("source", "term").agg(count(lit(1)).as("c")),
          Seq("source", "term"), "left")
        .withColumn("f",
          coalesce(col("c"), lit(0L)).cast("double") /
            col("tot").cast("double"))
      val mu = cst.groupBy("term")
        .agg(count(lit(1)).as("ns"),
          sort_array(collect_list(struct(col("source"), col("f"))))
            .as("fl"))
        .withColumn("mu",
          aggregate(col("fl"), lit(0.0), (a, e) => a + e.getField("f")) /
            col("ns").cast("double"))
      val sg = mu.withColumn("sig",
          sqrt(aggregate(col("fl"), lit(0.0),
            (a, e) => a + (e.getField("f") - col("mu")) *
              (e.getField("f") - col("mu"))) / col("ns").cast("double")))
        .select("term", "mu", "sig")
      val z = cst.join(broadcast(sg), Seq("term"))
        .select(col("source"), col("term"),
          ((col("f") - col("mu")) / col("sig")).as("z"))
      val pairs = z.as("a").join(z.as("b"), Seq("term"))
        .filter(col("a.source") =!= col("b.source"))
        .select(col("a.source").as("sa"), col("b.source").as("sb"),
          col("term"), abs(col("a.z") - col("b.z")).as("dz"))
      val delta = pairs.groupBy("sa", "sb")
        .agg(count(lit(1)).as("nt"),
          sort_array(collect_list(struct(col("term"), col("dz"))))
            .as("dl"))
        .withColumn("delta",
          aggregate(col("dl"), lit(0.0), (a, e) => a + e.getField("dz")) /
            col("nt").cast("double"))
      val w = Window.partitionBy("sa").orderBy(col("delta"), col("sb"))
      delta.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("sa").as("source"), col("sb").as("nearest_source"),
          col("delta"))
        .orderBy("source")
    },
    Some("""WITH tok AS MATERIALIZED (SELECT source,
          unnest(string_split(text, ' ')) AS term FROM documents),
      src_tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS tot
        FROM tok GROUP BY 1),
      top_terms AS (SELECT term FROM (SELECT term,
          COUNT(*) AS c FROM tok GROUP BY 1
        ORDER BY c DESC, term LIMIT 20)),
      cnt AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2),
      cst AS MATERIALIZED (SELECT st.source, tt.term,
          CAST(COALESCE(c.c, 0) AS DOUBLE) / CAST(st.tot AS DOUBLE)
            AS f
        FROM top_terms tt CROSS JOIN src_tot st
        LEFT JOIN cnt c ON c.source = st.source AND c.term = tt.term),
      mu AS MATERIALIZED (SELECT term, COUNT(*) AS ns,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(f ORDER BY source)), (a, b) -> a + b) /
            CAST(COUNT(*) AS DOUBLE) AS mu
        FROM cst GROUP BY term),
      sg AS MATERIALIZED (SELECT term, mu,
          sqrt(ssq / CAST(ns AS DOUBLE)) AS sig
        FROM (SELECT c.term, m.mu, m.ns,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list((c.f - m.mu) * (c.f - m.mu) ORDER BY c.source)),
              (a, b) -> a + b) AS ssq
          FROM cst c JOIN mu m ON m.term = c.term
          GROUP BY c.term, m.mu, m.ns)),
      z AS MATERIALIZED (SELECT c.source, c.term,
          (c.f - s.mu) / s.sig AS z
        FROM cst c JOIN sg s ON s.term = c.term),
      pairs AS (SELECT a.source AS sa, b.source AS sb, a.term,
          ABS(a.z - b.z) AS dz
        FROM z a JOIN z b ON b.term = a.term AND a.source <> b.source),
      delta AS (SELECT sa, sb,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(dz ORDER BY term)), (a, b) -> a + b) /
            CAST(COUNT(*) AS DOUBLE) AS delta
        FROM pairs GROUP BY sa, sb)
      SELECT sa AS source, sb AS nearest_source, delta
      FROM (SELECT sa, sb, delta,
          row_number() OVER (PARTITION BY sa ORDER BY delta, sb) AS rk
        FROM delta) WHERE rk = 1 ORDER BY source"""),
    covers = Seq("TXT-burrows-delta"))

  // ------------------------------------------------- curation report
  // q500: the one-row corpus curation report — document and token
  // inventory, language breadth, exact-duplicate mass, verified
  // near-dup pairs and their transitive clusters, the removable-doc
  // count, and the Gopher-style quality-fail census (top-term share
  // ≥ 25% or < 10 tokens). The summary every curation run ships;
  // each field is an exact count from a pipeline gated separately
  // elsewhere.
  private val q500 = QueryDef(
    "q500_curation_report",
    (s, dir) => {
      val docs = t(s, dir, "documents").localCheckpoint()
      // doc-level inventory and the whole token census in TWO actions
      // instead of five: one agg over docs, and one explode → per-
      // (doc, term) counts → per-doc rollup (n_tok = Σc, top_c =
      // max c) → corpus rollup — the previous shape exploded the
      // corpus twice and joined the halves back.
      val byTok = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("tk"))
        .groupBy("doc_id", "tk").agg(count(lit(1)).as("c"))
      val perDoc = byTok.groupBy("doc_id")
        .agg(sum("c").as("n_tok"), max("c").as("top_c"))
      val head = docs.agg(count(lit(1)).as("n_docs"),
          countDistinct("lang").as("n_langs"),
          countDistinct("text").as("n_uniq"))
        .crossJoin(perDoc.agg(sum("n_tok").as("n_tokens"),
          sum(when(col("n_tok") < 10 ||
            lit(4L) * col("top_c") >= col("n_tok"), 1L).otherwise(0L))
            .as("n_quality_fail")))
        // bounded-collect: one fully-aggregated summary row
        .collect()(0)
      val nDocs = head.getLong(0)
      val nLangs = head.getLong(1)
      val nUniqueTexts = head.getLong(2)
      val totalTok = head.getLong(3)
      val quality = head.getLong(4)
      // q500's pair set IS q22's pipeline — read the session-cached
      // copy (see q289's note; the oracle re-derives it)
      val pairs = GraphGateSource.cached(s, "q22-pairs:" + dir)(
          DedupGates.q22.run(s, dir))
        .select(col("doc_a"), col("doc_b"))
      val nPairs = pairs.count()
      val clusters = graft.dedup.Dedup.clusters(pairs)
        .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      // bounded-collect: one fully-aggregated summary row
      val sums = clusters.agg(count(lit(1)).as("n_clusters"),
        sum("sz").as("n_clustered")).collect()(0)
      val removable = sums.getLong(1) - sums.getLong(0)
      import s.implicits._
      Seq((nDocs, nLangs, totalTok, nDocs - nUniqueTexts, nPairs,
        sums.getLong(0), removable, quality))
        .toDF("n_docs", "n_langs", "n_tokens", "n_exact_dups",
          "n_neardup_pairs", "n_clusters", "n_removable",
          "n_quality_fail")
        .withColumn("keep_rate",
          (col("n_docs") - col("n_exact_dups") - col("n_removable") -
            col("n_quality_fail")).cast("double") /
            col("n_docs").cast("double"))
    },
    Some("""WITH RECURSIVE docs AS (SELECT * FROM documents),
      toksrc AS (SELECT doc_id, string_split(text, ' ') AS tk
        FROM docs),
      tok AS (SELECT doc_id, unnest(tk) AS tk FROM toksrc),
      tok_stats AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
        FROM tok GROUP BY 1),
      top_share AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_c
        FROM (SELECT doc_id, tk, COUNT(*) AS c FROM tok GROUP BY 1, 2)
        GROUP BY 1),
      quality AS (SELECT CAST(COUNT(*) AS BIGINT) AS nq
        FROM tok_stats t JOIN top_share s ON s.doc_id = t.doc_id
        WHERE t.n_tok < 10 OR 4 * s.top_c >= t.n_tok),
      sh AS (SELECT DISTINCT doc_id,
          unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
        FROM toksrc WHERE len(tk) >= 3),
      sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh
        GROUP BY 1),
      p0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(COUNT(*) AS BIGINT) AS common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM p0
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.4),
      edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
        FROM reach GROUP BY a),
      cstats AS (SELECT CAST(COUNT(DISTINCT cluster_id) AS BIGINT)
          AS n_clusters,
          CAST(COUNT(*) AS BIGINT) AS n_clustered
        FROM comp)
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM docs) AS n_docs,
        (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) FROM docs)
          AS n_langs,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM tok) AS n_tokens,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM docs) -
          (SELECT CAST(COUNT(DISTINCT text) AS BIGINT) FROM docs)
          AS n_exact_dups,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs)
          AS n_neardup_pairs,
        c.n_clusters,
        c.n_clustered - c.n_clusters AS n_removable,
        q.nq AS n_quality_fail,
        CAST((SELECT COUNT(*) FROM docs) -
          ((SELECT COUNT(*) FROM docs) -
            (SELECT COUNT(DISTINCT text) FROM docs)) -
          (c.n_clustered - c.n_clusters) - q.nq AS DOUBLE) /
          CAST((SELECT COUNT(*) FROM docs) AS DOUBLE) AS keep_rate
      FROM cstats c CROSS JOIN quality q"""),
    covers = Seq("LLM-curation-report"))

  // The LSH-backed curation pipeline variant. q109 hash-gates
  // [[graft.pipelines.CorpusCuration]] with its default exact-postings
  // near-dup candidate stage; q530 runs the SAME pipeline with the
  // MinHash-LSH candidate source — the configuration a 100 TB user
  // actually deploys, because exact posting expansion is the one family the
  // scale ladder measured super-linear (×135 at the sf1 rung on dense
  // corpora) while banded LSH stayed posting-linear (×17 on the same data).
  // The oracle re-derives every stage in SQL including the 8-hash/4-band
  // MinHash construction (q23's oracle form), so the end-to-end audit —
  // including which near-dup pairs the bands DID and DID NOT surface — is
  // hash-pinned, not just row-counted. CurationLshSpec separately pins the
  // variant's precision (exactly 1 by construction: candidates pass exact
  // verification) and measured recall vs the exact pipeline on the gate
  // corpus.
  private val nHashes = 8

  private val bandSize = 2

  // ---------------------------------------- LSH-backed curation audit
  private val q530 = QueryDef(
    "q530_curation_lsh",
    (s, dir) => graft.pipelines.CorpusCuration.audit(
      t(s, dir, "documents"),
      graft.pipelines.CorpusCuration.Config(
        candidates = graft.pipelines.CorpusCuration.NearDupCandidates
          .MinHashLsh(nHashes, bandSize))),
    Some {
      val hs = (0 until nHashes)
        .map(j => s"min(substr(md5('$j:' || s), 1, 15)) AS h$j").mkString(", ")
      val bandList = (0 until nHashes / bandSize)
        .map(b => s"md5('band$b:' || h${b * bandSize} || h${b * bandSize + 1})")
        .mkString(", ")
      s"""WITH norm AS (
        SELECT doc_id, trim(regexp_replace(strip_accents(lower(text)), ' +', ' ', 'g')) AS ntext
        FROM documents),
      tok AS (SELECT doc_id, string_split(ntext,' ') AS tk FROM norm),
      wc AS (SELECT doc_id, w, count(*) c
             FROM (SELECT doc_id, unnest(tk) w FROM tok) GROUP BY doc_id, w),
      qual AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) n_words,
          (CAST(sum(c) AS BIGINT) >= 10
           AND CAST(max(c) AS DOUBLE)/sum(c) < 0.2
           AND CAST(sum(c) - count(*) AS DOUBLE)/sum(c) < 0.8) AS q_keep
        FROM wc GROUP BY doc_id),
      ex AS (
        SELECT n.doc_id,
          row_number() OVER (PARTITION BY md5(ntext) ORDER BY n.doc_id) > 1 AS is_exact_dup
        FROM norm n JOIN qual USING (doc_id) WHERE q_keep),
      surv AS (SELECT doc_id FROM ex WHERE NOT is_exact_dup),
      sh AS (
        SELECT DISTINCT t.doc_id,
          unnest(list_transform(range(1, greatest(len(tk)-1, 1)),
            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
        FROM tok t JOIN surv USING (doc_id) WHERE len(tk) >= 3),
      sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
      sig AS (SELECT doc_id, $hs FROM sh GROUP BY doc_id),
      bands AS (SELECT doc_id, unnest([$bandList]) AS bkey FROM sig),
      cand AS (
        SELECT DISTINCT a.doc_id da, b.doc_id db
        FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
      pairs AS (
        SELECT da, db, count(*) common
        FROM cand
        JOIN sh a ON a.doc_id = da
        JOIN sh b ON b.doc_id = db AND a.s = b.s
        GROUP BY da, db),
      near AS (
        SELECT DISTINCT db AS doc_id FROM pairs
        JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
        WHERE CAST(common AS DOUBLE)/(sa.n + sb.n - common) >= 0.5)
      SELECT q.doc_id, q.n_words, q.q_keep,
        coalesce(ex.is_exact_dup, FALSE) AS is_exact_dup,
        (near.doc_id IS NOT NULL) AS is_near_dup,
        (q.q_keep AND NOT coalesce(ex.is_exact_dup, FALSE) AND near.doc_id IS NULL) AS kept
      FROM qual q
      LEFT JOIN ex ON q.doc_id = ex.doc_id
      LEFT JOIN near ON q.doc_id = near.doc_id
      ORDER BY q.doc_id"""
    },
    covers = Seq("T-curation-lsh"))

  // The Auto-resolved curation pipeline. q109 hash-gates
  // [[graft.pipelines.CorpusCuration]] with exact postings and q530 with
  // MinHash-LSH — both EXPLICIT choices, which means the 100 TB user must
  // already know which density regime their corpus is in.
  // `NearDupCandidates.Auto` removes that requirement: a pre-flight
  // posting-density probe (candidate pairs the exact expansion would emit
  // per posting row) picks the source per corpus, with the cutoff placed
  // between the measured regimes (SCALING.md round 10: gate-class corpora
  // probe ~5 pairs/posting where exact is faster AND complete; the dense
  // rungs probe 52–158 where exact goes quadratic and LSH stays
  // posting-linear).
  //
  // q532 runs the pipeline with Auto end to end — the probe aggregate
  // executes live inside the gate, resolves to ExactPostings on the gate
  // corpus (density an order of magnitude under the cutoff), and the full
  // audit frame must then hash-match q109's oracle exactly. A probe
  // regression (wrong density math, inverted cutoff, resolution not
  // applied) flips the candidate source and breaks the hash on every
  // near-dup the bands miss. The dense-corpus side of the switch is pinned
  // in CurationAutoSpec (a crafted corpus above the cutoff must resolve to
  // MinHashLsh and still verify exactly); the oracle SQL is shared with
  // q109 by reference so the two gates can never drift apart.

  // ------------------------------------------ Auto-resolved curation
  private val q532 = QueryDef(
    "q532_curation_auto",
    (s, dir) => graft.pipelines.CorpusCuration.audit(
      t(s, dir, "documents"),
      graft.pipelines.CorpusCuration.Config(
        candidates = graft.pipelines.CorpusCuration.NearDupCandidates.Auto())),
    // fail FAST at object init if the shared oracle ever disappears (a
    // switch to dynOracle): a silent None here would downgrade this
    // gate to the rows-only check and only CoverageDrift in a
    // full-suite run would notice
    Some(q109.oracle
      .getOrElse(sys.error("q532 shares q109_curation_pipeline's oracle, which is missing"))),
    covers = Seq("T-curation-auto"))

  val all: Seq[QueryDef] = Seq(q25, q26, q27, q28, q52, q86, q87, q90, q97,
    q98, q100, q101, q102, q109, q115, q127, q131, q147, q148, q156, q158,
    q162, q163, q173, q175, q176, q196, q197, q198, q230, q269, q270, q271,
    q277, q281, q300, q306, q310, q313, q331, q348, q366, q370, q382, q395,
    q398, q401, q434, q436, q447, q495, q500, q530, q532)
}
