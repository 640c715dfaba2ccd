package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{Materialize, Tables}
import graft.ops.TextAnalysis

/** Text-analysis + scalar-function operator queries (SURVEY §2.8 + the
  * training-pipeline text ops), all DuckDB-oracle-matched.
  */
object TextQueries {

  val qs: Seq[Q] = Seq(

    // ----- distributed suffix array (prefix doubling — Manber-Myers /
    // Flick-Aluru): the real Lee-2022 exact-substring machinery. Every
    // suffix of every document globally ranked lexicographically without
    // ever materializing a suffix string — O(log maxDocLen) rounds of
    // key-partitioned shuffles. The oracle replays the full order with
    // one window: ORDER BY suffix, doc_id, pos. -----
    Q("t_suffix_array",
      (s, d) => graft.ops.SuffixArray
        .build(Materialize.harness, Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id", "pos"),
      Some("""WITH s AS (SELECT doc_id, t.i - 1 AS pos, substr(text, t.i) AS suf
             |  FROM documents, unnest(range(1, length(text) + 1)) t(i))
             |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             |  CAST(row_number() OVER (ORDER BY suf, doc_id, pos) - 1 AS BIGINT) AS rank
             |FROM s ORDER BY doc_id, pos""".stripMargin)),

    // ----- longest repeated substring via the suffix array: max common
    // prefix of rank-ADJACENT suffixes (any repeat is a common prefix of
    // two suffixes, and the closest pair is adjacent in suffix order).
    // lcp capped at 64 on BOTH sides (the Spark side carries only 64-byte
    // prefixes — O(n·cap) bytes, corpus-linear) -----
    Q("t_longest_repeat",
      (s, d) => graft.ops.SuffixArray
        .longestRepeat(Materialize.harness, Tables.documents(s, d), "doc_id", "text",
          cap = 64),
      Some("""WITH s AS (SELECT doc_id, t.i - 1 AS pos, substr(text, t.i) AS suf
             |  FROM documents, unnest(range(1, length(text) + 1)) t(i)),
             |o AS (SELECT doc_id, pos, suf,
             |    row_number() OVER (ORDER BY suf, doc_id, pos) AS rn FROM s),
             |adj AS (SELECT a.suf AS sa, b.suf AS sb,
             |    a.doc_id AS doc_a, a.pos AS pos_a,
             |    b.doc_id AS doc_b, b.pos AS pos_b
             |  FROM o a JOIN o b ON b.rn = a.rn + 1),
             |l AS (SELECT doc_a, pos_a, doc_b, pos_b, min(sa) AS sa,
             |    CAST(count(*) FILTER (
             |      WHERE CAST(t.k AS INT) <= least(length(sa), length(sb), 64)
             |        AND substr(sa, 1, CAST(t.k AS INT)) =
             |            substr(sb, 1, CAST(t.k AS INT))) AS BIGINT) AS lcp
             |  FROM adj CROSS JOIN range(1, 65) t(k)
             |  GROUP BY doc_a, pos_a, doc_b, pos_b)
             |SELECT lcp, substr(sa, 1, CAST(lcp AS INT)) AS repeat,
             |  doc_a, CAST(pos_a AS BIGINT) AS pos_a,
             |  doc_b, CAST(pos_b AS BIGINT) AS pos_b
             |FROM l ORDER BY lcp DESC, doc_a, pos_a, doc_b, pos_b
             |LIMIT 1""".stripMargin)),

    // ----- TOKEN-level suffix array — the unit Lee-2022 actually dedups
    // on: suffixes of each document's word sequence, same doubling core,
    // ~6× fewer rows than the char-level array. The oracle orders DuckDB
    // LISTs (elementwise varchar compare, shorter-prefix first — the same
    // total order the rank doubling converges to). -----
    Q("t_token_suffix_array",
      (s, d) => graft.ops.SuffixArray
        .buildTokens(Materialize.harness, Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id", "pos"),
      Some("""WITH w AS (SELECT doc_id,
             |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
             |s AS (SELECT doc_id, t.i - 1 AS pos, ws[t.i:] AS suf
             |  FROM w, unnest(range(1, len(ws) + 1)) t(i))
             |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             |  CAST(row_number() OVER (ORDER BY suf, doc_id, pos) - 1 AS BIGINT) AS rank
             |FROM s ORDER BY doc_id, pos""".stripMargin)),

    // ----- longest repeated TOKEN sequence via the token suffix array
    // (max common word-prefix of rank-adjacent suffixes, cap 32 tokens on
    // both sides) -----
    Q("t_word_longest_repeat",
      (s, d) => graft.ops.SuffixArray
        .longestTokenRepeat(Materialize.harness, Tables.documents(s, d), "doc_id",
          "text", cap = 32),
      Some("""WITH w AS (SELECT doc_id,
             |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
             |s AS (SELECT doc_id, t.i - 1 AS pos, ws[t.i:] AS suf
             |  FROM w, unnest(range(1, len(ws) + 1)) t(i)),
             |o AS (SELECT doc_id, pos, suf,
             |    row_number() OVER (ORDER BY suf, doc_id, pos) AS rn FROM s),
             |adj AS (SELECT a.suf AS sa, b.suf AS sb,
             |    a.doc_id AS doc_a, a.pos AS pos_a,
             |    b.doc_id AS doc_b, b.pos AS pos_b
             |  FROM o a JOIN o b ON b.rn = a.rn + 1),
             |l AS (SELECT doc_a, pos_a, doc_b, pos_b, min(sa) AS sa,
             |    CAST(count(*) FILTER (
             |      WHERE CAST(t.k AS INT) <= least(len(sa), len(sb), 32)
             |        AND sa[1:CAST(t.k AS INT)] = sb[1:CAST(t.k AS INT)]) AS BIGINT) AS lcp
             |  FROM adj CROSS JOIN range(1, 33) t(k)
             |  GROUP BY doc_a, pos_a, doc_b, pos_b)
             |SELECT lcp, array_to_string(sa[1:CAST(lcp AS INT)], ' ') AS repeat,
             |  doc_a, CAST(pos_a AS BIGINT) AS pos_a,
             |  doc_b, CAST(pos_b AS BIGINT) AS pos_b
             |FROM l ORDER BY lcp DESC, doc_a, pos_a, doc_b, pos_b
             |LIMIT 1""".stripMargin)),

    // ----- deterministic stratified train/val/test split (80/10/10 by a
    // stable hash of doc_id, per-language strata): the assignment every
    // training pipeline needs to be REPRODUCIBLE across reruns and
    // engines — no rand(), the md5-derived bucket replays exactly in SQL.
    // Output is the per-(lang, split) doc and token census, so a drifted
    // assignment anywhere breaks the hash. -----
    Q("t_stratified_split",
      (s, d) => Tables.documents(s, d)
        .withColumn("u", expr(
          "cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) % 1000"))
        .withColumn("split", when(col("u") < 800, "train")
          .when(col("u") < 900, "val").otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(graft.ops.Dedup.wordsArray("text"))).cast("long")
            .as("n_tokens"))
        .orderBy("lang", "split"),
      Some("""WITH a AS (SELECT lang, text,
             |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS u
             |  FROM documents),
             |s AS (SELECT lang, CASE WHEN u < 800 THEN 'train'
             |    WHEN u < 900 THEN 'val' ELSE 'test' END AS split,
             |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS nt
             |  FROM a)
             |SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(nt) AS BIGINT) AS n_tokens
             |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- vocabulary building: top-50 word bigrams by document frequency
    // (distinct per doc → explode → count; the map-side-combined groupBy is
    // the whole-corpus shape) -----
    Q("t_ngram_vocab",
      (s, d) => Tables.documents(s, d)
        .withColumn("ws", graft.ops.Dedup.wordsArray("text"))
        .withColumn("bgs", graft.ops.Dedup.wordShingles("ws", 2))
        .select(explode(col("bgs")).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("bigram")).limit(50),
      Some("""WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
             |          FROM documents),
             |b AS (SELECT doc_id,
             |        CASE WHEN len(ws) >= 2
             |          THEN list_distinct([array_to_string(ws[i:i+1], ' ') for i in range(1, len(ws))])
             |          ELSE [] END AS bgs
             |      FROM w)
             |, p AS (SELECT unnest(bgs) AS bigram FROM b)
             |SELECT bigram, count(*) AS df FROM p
             |GROUP BY 1 ORDER BY df DESC, bigram LIMIT 50""".stripMargin)),

    // ----- heavy-hitter tokens via per-partition Misra–Gries candidates +
    // exact verification (ops/TextAnalysis.heavyHitterTokens): the
    // two-pass shape that answers "which tokens occur >= T times" without
    // shuffling the vocabulary. The emitted set is exact (pass 2
    // re-counts), so the oracle is the plain HAVING query. -----
    Q("t_heavy_hitters",
      (s, d) => graft.ops.TextAnalysis
        .heavyHitterTokens(Tables.documents(s, d), "text", minCount = 300L)
        .orderBy("w"),
      Some("""WITH w AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
             |          FROM documents)
             |SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM w
             |GROUP BY 1 HAVING count(*) >= 300 ORDER BY w""".stripMargin)),

    // ----- token counting (whitespace + subword-ish estimate) -----
    Q("t_token_count",
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.subwordTokenEstimate(col("text")).cast("long").as("n_subwords"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  len(regexp_extract_all(text, '\S+')) AS n_tokens,
             |  len(regexp_extract_all(lower(text), '[a-z0-9]{1,6}|[^a-z0-9\s]')) AS n_subwords
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----- unicode hygiene: NFC composition + zero-width strip. The
    // fixture wraps each doc in decomposed accents (e+U+0301, A+U+030A)
    // and invisible bytes (ZWSP, BOM) — the exact toolchain debris that
    // makes byte-identical text hash differently; after the pass both
    // engines agree on length AND md5, which is the property dedup
    // needs. -----
    Q("t_unicode_normalize",
      (s, d) => {
        val messy = concat(lit("e\u0301 "), expr("substr(text, 1, 30)"),
          lit(" \u200Bx\uFEFFA\u030A"))
        Tables.documents(s, d)
          .select(col("doc_id"),
            graft.ops.TextAnalysis.normalizeUnicode(messy).as("n"))
          .select(col("doc_id"), length(col("n")).cast("long").as("norm_len"),
            md5(col("n")).as("norm_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH m AS (SELECT doc_id,
             |    chr(101) || chr(769) || ' ' || substr(text, 1, 30) ||
             |    ' ' || chr(8203) || 'x' || chr(65279) || 'A' || chr(778) AS s
             |  FROM documents),
             |n AS (SELECT doc_id, regexp_replace(nfc_normalize(s),
             |    '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g') AS n FROM m)
             |SELECT doc_id, length(n)::BIGINT AS norm_len, md5(n) AS norm_md5
             |FROM n ORDER BY doc_id""".stripMargin)),

    // ----- interpolated bigram LM score (CCNet family, one order above
    // t_surprisal): mean −ln(0.75·p(w2|w1) + 0.25·p(w2)) per doc under
    // the corpus's own statistics — scrambled text passes unigram checks
    // and fails this one. (Oracle only: the range(1,128) bigram index is
    // DuckDB's lateral-free unnest idiom, valid while fixture docs stay
    // under 127 words — the generator caps at 100; the Spark side has no
    // such bound.) -----
    Q("t_bigram_score",
      (s, d) => graft.ops.TextAnalysis
        .bigramScore(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id,
             |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
             |  FROM documents),
             |bg AS (SELECT doc_id, ws[g.i] AS w1, ws[g.i + 1] AS w2
             |  FROM w, (SELECT unnest(range(1, 128)) AS i) g(i)
             |  WHERE g.i <= len(ws) - 1),
             |uni AS (SELECT unnest(ws) AS w2 FROM w),
             |uc AS (SELECT w2, count(*) AS cw FROM uni GROUP BY 1),
             |tot AS (SELECT sum(cw) AS tot FROM uc),
             |bc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
             |cx AS (SELECT w1, sum(cb) AS cctx FROM bc GROUP BY 1),
             |p AS (SELECT bg.doc_id,
             |    0.75 * bc.cb / cx.cctx + 0.25 * uc.cw / tot.tot AS p
             |  FROM bg JOIN bc ON bg.w1 = bc.w1 AND bg.w2 = bc.w2
             |  JOIN cx ON bg.w1 = cx.w1
             |  JOIN uc ON bg.w2 = uc.w2, tot)
             |SELECT doc_id, count(*) AS n_bigrams,
             |  round(avg(-ln(p)), 4) + 0.0 AS bigram_nll
             |FROM p GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // ----- interpolated Kneser–Ney bigram NLL (Chen & Goodman §2.7):
    // absolute discount D=0.75, discount mass backing off to the
    // CONTINUATION distribution — the LM scorer a filtering pipeline
    // would actually train, one rung above the interpolated-count model;
    // every quantity is a corpus count, so the whole scorer (discounts,
    // continuation counts, type total) replays in SQL and hash-checks. -----
    Q("t_kn_bigram",
      (s, d) => graft.ops.TextAnalysis
        .knBigramScore(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id,
             |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
             |  FROM documents),
             |bg AS (SELECT doc_id, ws[g.i] AS w1, ws[g.i + 1] AS w2
             |  FROM w, (SELECT unnest(range(1, 128)) AS i) g(i)
             |  WHERE g.i <= len(ws) - 1),
             |bc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
             |cx AS (SELECT w1, sum(cb) AS cctx, count(*) AS n1p_fwd
             |  FROM bc GROUP BY 1),
             |ct AS (SELECT w2, count(*) AS n1p_bwd FROM bc GROUP BY 1),
             |ty AS (SELECT count(*) AS ntypes FROM bc),
             |p AS (SELECT bg.doc_id,
             |    greatest(bc.cb - 0.75, 0.0) / cx.cctx
             |    + (0.75 * cx.n1p_fwd / cx.cctx) * (ct.n1p_bwd * 1.0 / ty.ntypes) AS p
             |  FROM bg JOIN bc ON bg.w1 = bc.w1 AND bg.w2 = bc.w2
             |  JOIN cx ON bg.w1 = cx.w1
             |  JOIN ct ON bg.w2 = ct.w2, ty)
             |SELECT doc_id, count(*) AS n_bigrams,
             |  round(avg(-ln(p)), 4) + 0.0 AS kn_nll
             |FROM p GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // ----- language-ID heuristic (CJK + stopword-family scores) -----
    Q("t_langid",
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"), TextAnalysis.langId(col("text")).as("predicted"))
        .orderBy("doc_id"),
      Some("""WITH c AS (SELECT doc_id,
             |  len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS cjk,
             |  len(regexp_extract_all(lower(text), '\b(the|and|of|is|to)\b')) AS en,
             |  len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS de,
             |  len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')) AS fr,
             |  len(regexp_extract_all(lower(text), '\b(el|los|las|es|y)\b')) AS es
             |  FROM documents)
             |SELECT doc_id, CASE
             |  WHEN cjk > 0 THEN 'zh'
             |  WHEN de > en AND de > fr AND de > es THEN 'de'
             |  WHEN fr > en AND fr > de AND fr > es THEN 'fr'
             |  WHEN es > en AND es > de AND es > fr THEN 'es'
             |  ELSE 'en' END AS predicted
             |FROM c ORDER BY doc_id""".stripMargin)),

    // ----- quality scoring (length/alnum/stopword/diversity mix) -----
    Q("t_quality",
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, round(
             |    (len(regexp_extract_all(text, '[a-zA-Z0-9]')) * 1.0
             |       / greatest(length(text) * 1.0, 1.0)) * 0.25
             |  + least(length(text) * 1.0 / 500.0, 1.0) * 0.25
             |  + least((len(regexp_extract_all(lower(text), '\b(the|and|of|is|to|a|in)\b')) * 1.0
             |       / greatest(len(regexp_extract_all(text, '\S+')) * 1.0, 1.0)) * 5.0, 1.0) * 0.25
             |  + (len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) * 1.0
             |       / greatest(len(regexp_extract_all(text, '\S+')) * 1.0, 1.0)) * 0.25
             |  , 4) AS quality
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----- per-language percentile quality cut: drop each language's
    // bottom 10% by quality score — the relative-threshold filtering
    // stage (absolute thresholds over-prune low-resource strata; a
    // percentile adapts per stratum). Ranks use the deterministic
    // (quality, doc_id) total order and INTEGER cut arithmetic
    // (r > n DIV 10), so the realized cut — including the minimum
    // retained score per language — replays exactly in SQL. The
    // per-stratum window sort is the scale shape: one range-partitioned
    // sort per language, never a global collect. -----
    Q("t_percentile_filter",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy("q", "doc_id")
        val wl = org.apache.spark.sql.expressions.Window.partitionBy("lang")
        Tables.documents(s, d)
          .select(col("lang"), col("doc_id"),
            TextAnalysis.qualityScore(col("text")).as("q"))
          .withColumn("r", row_number().over(w))
          .withColumn("n", count(lit(1)).over(wl))
          .withColumn("keep", col("r") > expr("n DIV 10"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            (min(when(col("keep"), col("q"))) + 0.0).as("min_kept_quality"))
          .orderBy("lang")
      },
      Some("""WITH s AS (SELECT lang, doc_id, round(
             |    (len(regexp_extract_all(text, '[a-zA-Z0-9]')) * 1.0
             |       / greatest(length(text) * 1.0, 1.0)) * 0.25
             |  + least(length(text) * 1.0 / 500.0, 1.0) * 0.25
             |  + least((len(regexp_extract_all(lower(text), '\b(the|and|of|is|to|a|in)\b')) * 1.0
             |       / greatest(len(regexp_extract_all(text, '\S+')) * 1.0, 1.0)) * 5.0, 1.0) * 0.25
             |  + (len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) * 1.0
             |       / greatest(len(regexp_extract_all(text, '\S+')) * 1.0, 1.0)) * 0.25
             |  , 4) AS q FROM documents),
             |r AS (SELECT lang, doc_id, q,
             |    row_number() OVER (PARTITION BY lang ORDER BY q, doc_id) AS r,
             |    count(*) OVER (PARTITION BY lang) AS n FROM s)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
             |  CAST(sum(CASE WHEN r > n // 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  min(CASE WHEN r > n // 10 THEN q END) AS min_kept_quality
             |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- Gopher-style quality rules (Rae et al. 2021 heuristic family):
    // per-rule measurements + keep flag, all scan-speed column expressions -----
    Q("t_gopher_rules",
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"), TextAnalysis.gopherRules(col("text")).as("g"))
        .select(col("doc_id"), col("g.n_words").as("n_words"),
          col("g.mean_word_len").as("mean_word_len"),
          col("g.symbol_ratio").as("symbol_ratio"),
          col("g.bullet_ratio").as("bullet_ratio"),
          col("g.ellipsis_ratio").as("ellipsis_ratio"),
          col("g.alpha_word_ratio").as("alpha_word_ratio"),
          col("g.n_stopwords").as("n_stopwords"),
          col("g.keep").as("keep"))
        .orderBy("doc_id"),
      Some("""WITH g AS (SELECT doc_id,
             |    len(regexp_extract_all(text, '\S+')) AS n_words,
             |    length(regexp_replace(text, '\s', '', 'g')) AS non_ws,
             |    len(regexp_extract_all(text, '#'))
             |      + len(regexp_extract_all(text, '\.\.\.')) AS n_sym,
             |    len(str_split(text, chr(10))) AS n_lines,
             |    len(regexp_extract_all(text, '(?m)^\s*[-*•]')) AS n_bullet,
             |    len(regexp_extract_all(text, '(?m)(\.\.\.|…)$')) AS n_ellip,
             |    len(regexp_extract_all(text, '\S*[A-Za-z]\S*')) AS n_alpha,
             |    len(list_distinct(regexp_extract_all(lower(text),
             |        '\b(the|be|to|of|and|that|have|with)\b'))) AS n_stop
             |  FROM documents),
             |r AS (SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
             |    round(non_ws * 1.0 / greatest(n_words, 1), 4) + 0.0 AS mean_word_len,
             |    round(n_sym * 1.0 / greatest(n_words, 1), 4) + 0.0 AS symbol_ratio,
             |    round(n_bullet * 1.0 / greatest(n_lines, 1), 4) + 0.0 AS bullet_ratio,
             |    round(n_ellip * 1.0 / greatest(n_lines, 1), 4) + 0.0 AS ellipsis_ratio,
             |    round(n_alpha * 1.0 / greatest(n_words, 1), 4) + 0.0 AS alpha_word_ratio,
             |    CAST(n_stop AS BIGINT) AS n_stopwords
             |  FROM g)
             |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
             |  ellipsis_ratio, alpha_word_ratio, n_stopwords,
             |  (n_words BETWEEN 50 AND 100000)
             |    AND mean_word_len BETWEEN 3.0 AND 10.0
             |    AND symbol_ratio < 0.1 AND bullet_ratio <= 0.9
             |    AND ellipsis_ratio <= 0.3 AND alpha_word_ratio >= 0.8
             |    AND n_stopwords >= 2 AS keep
             |FROM r ORDER BY doc_id""".stripMargin)),

    // ----- repetition stats: duplicate-line ratio + top-bigram mass
    // (the duplication half of the Gopher filters) -----
    Q("t_repetition",
      (s, d) => TextAnalysis.repetitionStats(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH l AS (SELECT doc_id,
             |    round(1.0 - len(list_distinct(str_split(text, chr(10)))) * 1.0
             |      / greatest(len(str_split(text, chr(10))), 1), 4) + 0.0 AS dup_line_ratio
             |  FROM documents),
             |w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
             |      FROM documents),
             |ng AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 2
             |         THEN [array_to_string(ws[i:i+1], ' ') for i in range(1, len(ws))]
             |         ELSE [] END) AS ng FROM w),
             |c AS (SELECT doc_id, ng, count(*) AS c FROM ng GROUP BY 1, 2),
             |t AS (SELECT doc_id, round(max(c) * 1.0 / sum(c), 4) + 0.0 AS top_bigram_frac
             |      FROM c GROUP BY 1)
             |SELECT doc_id, l.dup_line_ratio,
             |       coalesce(t.top_bigram_frac, 0.0) AS top_bigram_frac
             |FROM l LEFT JOIN t USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // ----- unigram surprisal: mean -ln p(word) under the corpus unigram
    // model (perplexity-proxy filtering, CCNet family) -----
    Q("t_surprisal",
      (s, d) => TextAnalysis.unigramSurprisal(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
             |      FROM documents),
             |v AS (SELECT w, count(*) AS wc FROM w GROUP BY 1),
             |tot AS (SELECT sum(wc) AS total FROM v)
             |SELECT doc_id,
             |       round(avg(-ln(wc * 1.0 / total)), 4) + 0.0 AS surprisal
             |FROM w JOIN v USING (w), tot
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ----- CCNet-style perplexity bucketing: tertile the corpus by unigram
    // surprisal into head/middle/tail (Wenzek et al., "CCNet: Extracting
    // High Quality Monolingual Datasets from Web Crawl Data", LREC 2020 —
    // their LM-perplexity thirds, with t_surprisal's unigram model standing
    // in for the KenLM). Cutoffs are EXACT interpolated percentiles of the
    // per-doc score table (one row per doc — the already-reduced side, not
    // the corpus; at true corpus scale swap in approx percentiles with a
    // documented tolerance), broadcast as one row; bucketing is then a
    // map-side comparison. Both engines compute the percentile over the
    // SAME 4-decimal-rounded surprisals and the cutoffs are rounded to 6
    // before comparing, so a tie means bit-equal doubles on both sides. -----
    Q("t_ppl_buckets",
      (s, d) => {
        val sup = TextAnalysis.unigramSurprisal(Tables.documents(s, d), "doc_id", "text")
        val cuts = sup.agg(
          (round(expr("percentile(surprisal, 1.0/3)"), 6) + lit(0.0)).as("c1"),
          (round(expr("percentile(surprisal, 2.0/3)"), 6) + lit(0.0)).as("c2"))
        sup.crossJoin(broadcast(cuts))
          .select(col("doc_id"), col("surprisal"),
            when(col("surprisal") <= col("c1"), "head")
              .when(col("surprisal") <= col("c2"), "middle")
              .otherwise("tail").as("bucket"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
             |      FROM documents),
             |v AS (SELECT w, count(*) AS wc FROM w GROUP BY 1),
             |tot AS (SELECT sum(wc) AS total FROM v),
             |s AS (SELECT doc_id, round(avg(-ln(wc * 1.0 / total)), 4) + 0.0 AS surprisal
             |      FROM w JOIN v USING (w), tot GROUP BY doc_id),
             |c AS (SELECT round(quantile_cont(surprisal, 1.0/3), 6) + 0.0 AS c1,
             |             round(quantile_cont(surprisal, 2.0/3), 6) + 0.0 AS c2 FROM s)
             |SELECT doc_id, surprisal,
             |  CASE WHEN surprisal <= c1 THEN 'head'
             |       WHEN surprisal <= c2 THEN 'middle'
             |       ELSE 'tail' END AS bucket
             |FROM s CROSS JOIN c ORDER BY doc_id""".stripMargin)),

    // ----- document fingerprint (normalized-content md5) -----
    Q("t_fingerprint",
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----- PII redaction (emails / long digit runs / IPv4) -----
    Q("t_redact_pii",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.redactPii(
            concat(col("text"), lit(" contact: user-"), col("doc_id").cast("string"),
              lit("@example.com or 5551234567 at 10.0.0.1"))).as("redacted"))
        .select(col("doc_id"), md5(col("redacted")).as("redacted_md5"),
          (size(regexp_extract_all(col("redacted"), lit("<EMAIL>|<NUMBER>|<IP>"), lit(0))))
            .cast("long").as("n_redactions"))
        .orderBy("doc_id"),
      Some("""WITH r AS (SELECT doc_id,
             |    regexp_replace(regexp_replace(regexp_replace(
             |      text || ' contact: user-' || doc_id || '@example.com or 5551234567 at 10.0.0.1',
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             |      '\b\d{7,}\b', '<NUMBER>', 'g') AS redacted
             |  FROM documents)
             |SELECT doc_id, md5(redacted) AS redacted_md5,
             |       len(regexp_extract_all(redacted, '<EMAIL>|<NUMBER>|<IP>')) AS n_redactions
             |FROM r ORDER BY doc_id""".stripMargin)),

    // ----- deterministic corpus split (80/10/10 by portable content hash) -----
    Q("t_hash_split",
      (s, d) => Tables.documents(s, d)
        .select(col("lang"), TextAnalysis.hashSplit(md5(col("text"))).as("split"))
        .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "split"),
      Some("""WITH s AS (SELECT lang,
             |    CASE WHEN CAST(concat('0x', substr(md5(md5(text)), 1, 15)) AS BIGINT) % 100 < 80
             |           THEN 'train'
             |         WHEN CAST(concat('0x', substr(md5(md5(text)), 1, 15)) AS BIGINT) % 100 < 90
             |           THEN 'val'
             |         ELSE 'test' END AS split
             |  FROM documents)
             |SELECT lang, split, count(*) AS n_docs FROM s
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- final-stage corpus export: write the sharded training layout
    // (split=/lang=/shard= dirs, deterministic hash placement, bounded file
    // sizes) then READ IT BACK and manifest it — the oracle replays the
    // placement rule from the raw table, so a writer bug (dropped rows,
    // mis-routed shard, partition-column corruption) breaks the hash. The
    // repartition-before-partitionBy discipline is what stops the
    // tasks×dirs small-file explosion at 100 TB (see ops/CorpusWriter). -----
    Q("t_shard_export",
      (s, d) => {
        val out = s"${System.getProperty("java.io.tmpdir")}/graft-shard-export-" +
          d.replaceAll("[^a-zA-Z0-9._-]", "_")
        graft.ops.CorpusWriter.writeSharded(
          Tables.documents(s, d).select("doc_id", "lang", "text"), out,
          numShards = 8, maxRecordsPerFile = 100)
        s.read.parquet(out)
          .groupBy("split", "lang", "shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text")).cast("long")).as("sum_chars"))
          .select(col("split"), col("lang"), col("shard").cast("long").as("shard"),
            col("n_docs"), col("sum_chars"))
          .orderBy("split", "lang", "shard")
      },
      Some("""WITH s AS (SELECT lang, length(text)::BIGINT AS n_chars,
             |    CASE WHEN CAST(concat('0x', substr(md5(md5(text)), 1, 15)) AS BIGINT) % 100 < 80
             |           THEN 'train'
             |         WHEN CAST(concat('0x', substr(md5(md5(text)), 1, 15)) AS BIGINT) % 100 < 90
             |           THEN 'val'
             |         ELSE 'test' END AS split,
             |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard
             |  FROM documents)
             |SELECT split, lang, shard, count(*) AS n_docs,
             |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // ----- character-level Shannon entropy: the compressibility proxy that
    // catches boilerplate (low) and keyboard-mash (implausibly high) -----
    Q("t_char_entropy",
      (s, d) => Tables.documents(s, d)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"),
          (TextAnalysis.charEntropy(col("text")) + 0.0).as("entropy"))
        .orderBy("doc_id"),
      Some("""WITH ch AS (SELECT doc_id,
             |    unnest([text[i] for i in range(1, length(text) + 1)]) AS c
             |  FROM documents WHERE length(text) > 0),
             |cnt AS (SELECT doc_id, c, count(*)::DOUBLE AS k FROM ch GROUP BY 1, 2),
             |tot AS (SELECT doc_id, sum(k) AS n FROM cnt GROUP BY 1),
             |h AS (SELECT c.doc_id, -sum((k / n) * log2(k / n)) AS ent
             |      FROM cnt c JOIN tot USING (doc_id) GROUP BY 1)
             |SELECT doc_id, round(ent, 4) + 0.0 AS entropy FROM h
             |ORDER BY doc_id""".stripMargin)),

    // ----- model-based quality filter (CCNet/GPT-3-era recipe): logistic
    // regression bootstrapped from the rule verdict as a weak label, scores
    // every doc with a calibrated p_keep that RANKS borderline documents
    // where the hard rules only bisect. LR training is not SQL-expressible
    // → rows-only; OpsSpec gates label recovery, class separation, and
    // feature-direction sanity. -----
    Q("t_quality_model",
      (s, d) => {
        val feats = graft.ops.QualityModel.featurize(Tables.documents(s, d))
        graft.ops.QualityModel.trainScore(feats)
          .select(col("id").as("doc_id"),
            col("label").cast("long").as("rule_label"),
            round(col("p_keep"), 4).as("p_keep"))
          .orderBy("doc_id")
      },
      None),

    // ----- token budget: training tokens per lang per split (the "how many
    // tokens do we have" query every corpus build ends with) -----
    Q("t_token_budget",
      (s, d) => Tables.documents(s, d)
        .select(col("lang"),
          TextAnalysis.hashSplit(md5(col("text"))).as("split"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
        .groupBy("lang", "split")
        .agg(sum(col("n_tok")).as("tokens"), count(lit(1)).as("docs"))
        .orderBy("lang", "split"),
      Some("""WITH s AS (SELECT lang, len(regexp_extract_all(text, '\S+')) AS n_tok,
             |    CASE WHEN CAST(concat('0x', substr(md5(md5(text)), 1, 15)) AS BIGINT) % 100 < 80
             |           THEN 'train'
             |         WHEN CAST(concat('0x', substr(md5(md5(text)), 1, 15)) AS BIGINT) % 100 < 90
             |           THEN 'val'
             |         ELSE 'test' END AS split
             |  FROM documents)
             |SELECT lang, split, sum(n_tok)::BIGINT AS tokens, count(*) AS docs
             |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- training-sequence packing (concat-and-chunk): documents are laid
    // head-to-tail in deterministic hash order within a (lang, shard)
    // stream and cut every BUDGET tokens — each doc learns which packed
    // sequence it starts in and at what token offset (the GPT-style
    // dataloader layout, computed corpus-side). The shard key bounds the
    // window partition: at 100 TB a per-lang stream would funnel one
    // partition per language through a single task, while (lang, shard)
    // streams stay executor-sized and pack independently. Running-sum
    // windows stream (no frame materialization), so the whole op is one
    // shuffle on the stream key. -----
    Q("t_pack_sequences",
      (s, d) => {
        val budget = 256L
        val docs = Tables.documents(s, d).select(
          col("lang"),
          pmod(graft.ops.Dedup.hash60(col("doc_id").cast("string")), lit(4L)).as("shard"),
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang", "shard")
          .orderBy(graft.ops.Dedup.hash60(col("doc_id").cast("string")).asc,
            col("doc_id").asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        docs
          .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
          .select(col("lang"), col("shard"), col("doc_id"), col("n_tok"),
            floor(col("cum_before") / budget).as("seq_id"),
            (col("cum_before") % budget).as("tok_offset"))
          .orderBy("lang", "shard", "seq_id", "tok_offset", "doc_id")
      },
      Some("""WITH t AS (SELECT lang,
             |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 AS shard,
             |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hk,
             |    doc_id, len(regexp_extract_all(text, '\S+'))::BIGINT AS n_tok
             |  FROM documents),
             |c AS (SELECT lang, shard, doc_id, n_tok,
             |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY hk, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
             |  FROM t)
             |SELECT lang, shard, doc_id, n_tok,
             |       CAST(cum_before // 256 AS BIGINT) AS seq_id,
             |       CAST(cum_before % 256 AS BIGINT) AS tok_offset
             |FROM c ORDER BY lang, shard, seq_id, tok_offset, doc_id""".stripMargin),
      bench = true),

    // ----- domain-mixture sampling: a target mixture (lang → weight) over a
    // fixed doc budget becomes per-stratum quotas, drawn in deterministic
    // hash order (the "resample the corpus to the training mixture"
    // primitive — same shape as stratified sampling but quota = weight ×
    // budget instead of a flat N). The weights table is a broadcast literal
    // dim; the only shuffle is the per-stratum ranking window. -----
    Q("t_domain_mix",
      (s, d) => {
        import s.implicits._
        val budget = 200L
        val weights = Seq(("en", 0.40), ("de", 0.20), ("fr", 0.20),
          ("es", 0.10), ("zh", 0.10)).toDF("lang", "wt")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang")
          .orderBy(graft.ops.Dedup.hash60(col("doc_id").cast("string")).asc,
            col("doc_id").asc)
        Tables.documents(s, d)
          .withColumn("rk", row_number().over(w))
          .join(broadcast(weights), "lang")
          .filter(col("rk") <= round(col("wt") * budget))
          .select(col("lang"), col("doc_id"), col("rk"),
            round(col("wt") * budget).cast("long").as("quota"))
          .orderBy("lang", "rk")
      },
      Some("""WITH wt(lang, wt) AS (VALUES ('en', 0.40), ('de', 0.20), ('fr', 0.20),
             |    ('es', 0.10), ('zh', 0.10)),
             |r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
             |    ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
             |             doc_id) AS rk
             |  FROM documents)
             |SELECT r.lang, r.doc_id, r.rk,
             |       CAST(round(wt.wt * 200) AS BIGINT) AS quota
             |FROM r JOIN wt ON wt.lang = r.lang
             |WHERE r.rk <= round(wt.wt * 200)
             |ORDER BY r.lang, r.rk""".stripMargin)),

    // ----- corpus length histogram (token-count buckets of 50) -----
    Q("t_length_histogram",
      (s, d) => Tables.documents(s, d)
        .select(least(floor(TextAnalysis.tokenCount(col("text")) / 50), lit(5L)).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
        .orderBy("bucket"),
      Some("""SELECT least(len(regexp_extract_all(text, '\S+')) // 50, 5) AS bucket,
             |       count(*) AS n_docs
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- rolling-hash winnowing fingerprints (k=8 grams, window 4) -----
    Q("t_winnow_fingerprint",
      (s, d) => Tables.documents(s, d)
        .filter(length(col("text")) >= TextAnalysis.WinnowK)
        .select(col("doc_id"),
          TextAnalysis.winnowFingerprints(col("text")).as("fps"))
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_fp"),
          element_at(col("fps"), 1).as("fp_min"),
          expr("md5(array_join(transform(fps, x -> cast(x AS STRING)), ','))").as("fp_checksum"))
        .orderBy("doc_id"),
      Some {
        // direct per-window Rabin-Karp form of the same hash: weights are
        // B^(k-1-j) mod M precomputed for B=31, M=2^31-1, k=8
        val m = TextAnalysis.WinnowMod
        val weights = (0 until TextAnalysis.WinnowK).map { j =>
          var p = 1L
          for (_ <- 0 until (TextAnalysis.WinnowK - 1 - j)) p = p * TextAnalysis.WinnowBase % m
          p
        }.mkString("[", ", ", "]")
        s"""WITH c AS (SELECT doc_id, text,
           |    [ord(text[i])::BIGINT for i in range(1, length(text) + 1)] AS codes
           |  FROM documents WHERE length(text) >= 8),
           |h AS (SELECT doc_id,
           |    [CAST(list_sum([codes[i + j] * ($weights)[j + 1] for j in range(0, 8)]) % $m
           |          AS BIGINT)
           |     for i in range(1, len(codes) - 6)] AS hs
           |  FROM c),
           |f AS (SELECT doc_id,
           |    CASE WHEN len(hs) < 4 THEN [list_min(hs)]
           |         ELSE list_sort(list_distinct(
           |           [list_min(hs[i:i+3]) for i in range(1, len(hs) - 2)]))
           |    END AS fps
           |  FROM h)
           |SELECT doc_id, len(fps) AS n_fp, fps[1] AS fp_min,
           |       md5(array_to_string(fps, ',')) AS fp_checksum
           |FROM f ORDER BY doc_id""".stripMargin
      }),

    // ----- F6: sha-256 content hash -----
    Q("f6_content_hash",
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"), sha2(col("text"), 256).as("content_hash"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, sha256(text) AS content_hash FROM documents ORDER BY doc_id")),

    // ----- F7: base64url encode (raw-data path identity) -----
    Q("f7_base64url",
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        rtrim(translate(base64(col("source").cast("binary")), "+/", "-_"), "=").as("b64url"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  rtrim(translate(to_base64(source::BLOB), '+/', '-_'), '=') AS b64url
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----- F8: source-URL normalization (origin+path, strip query/fragment) -----
    Q("f8_url_normalize",
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        regexp_replace(
          concat(lit("https://example.com/p/"), col("source"), lit("?utm=x#frag")),
          "[?#].*$", "").as("normalized"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  regexp_replace('https://example.com/p/' || source || '?utm=x#frag',
             |                 '[?#].*$', '', 'g') AS normalized
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----- S7/F10: atomic-range PRODUCTION from table-structured input.
    // Each doc becomes a markdown fixture (sanitized prose paragraph + a
    // 2-column pipe table with 3 data rows); TableBlockParser turns the
    // table rows into `Header: value` atomic blocks and computes their
    // [start, end) ranges in the assembled content. The oracle recomputes
    // every range with independent length arithmetic. -----
    Q("f10_table_atomic_ranges",
      (s, d) => {
        // prose is sanitized of newlines/pipes so it stays ONE paragraph
        // block and the offsets are pure arithmetic; the 'Doc N' prefix
        // guarantees it is non-empty
        val mdCol = concat(
          lit("Doc "), col("doc_id").cast("string"), lit(" "),
          trim(regexp_replace(expr("substr(text, 1, 40)"), "[\\s|]+", " ")),
          lit("\n\n| Lang | Source |\n| --- | --- |\n| "),
          col("lang"), lit(" | "), col("source"), lit(" |\n| "),
          col("lang"), lit("2 | "), col("source"), lit("2 |\n| "),
          upper(col("lang")), lit(" | "), upper(col("source")), lit(" |"))
        val parseUdf = udf((md: String) => {
          val p = graft.chunker.TableBlockParser.parse(md)
          p.ranges.zipWithIndex.map { case (r, i) =>
            (i, r.start, r.end, p.content.substring(r.start, r.end))
          }
        })
        Tables.documents(s, d)
          .select(col("doc_id"), explode(parseUdf(mdCol)).as("r"))
          .select(col("doc_id"), col("r._1").as("range_idx"),
            col("r._2").cast("long").as("rstart"), col("r._3").cast("long").as("rend"),
            col("r._4").as("atomic_text"))
          .orderBy("doc_id", "range_idx")
      },
      Some("""WITH f AS (SELECT doc_id,
             |    'Doc ' || doc_id || ' ' ||
             |      trim(regexp_replace(substr(text, 1, 40), '[\s|]+', ' ', 'g')) AS prose,
             |    'Lang: ' || lang || chr(10) || 'Source: ' || source AS row0,
             |    'Lang: ' || lang || '2' || chr(10) || 'Source: ' || source || '2' AS row1,
             |    'Lang: ' || upper(lang) || chr(10) || 'Source: ' || upper(source) AS row2
             |  FROM documents),
             |o AS (
             |  SELECT doc_id, 0 AS range_idx, len(prose) + 2 AS rstart,
             |         len(prose) + 2 + len(row0) AS rend, row0 AS atomic_text FROM f
             |  UNION ALL
             |  SELECT doc_id, 1, len(prose) + len(row0) + 4,
             |         len(prose) + len(row0) + 4 + len(row1), row1 FROM f
             |  UNION ALL
             |  SELECT doc_id, 2, len(prose) + len(row0) + len(row1) + 6,
             |         len(prose) + len(row0) + len(row1) + 6 + len(row2), row2 FROM f)
             |SELECT doc_id, range_idx, rstart, rend, atomic_text
             |FROM o ORDER BY doc_id, range_idx""".stripMargin)),

    // ----- F11: title extraction priority chain with provenance -----
    Q("f11_title_extract",
      (s, d) => {
        val md = when(col("doc_id") % 3 === 0,
          concat(lit("---\ntitle: T"), col("doc_id").cast("string"),
            lit("\n---\n# H"), col("doc_id").cast("string"), lit("\n"), col("text")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("# H"), col("doc_id").cast("string"), lit("\n"), col("text")))
          .otherwise(col("text"))
        val fm = nullif(regexp_extract(md, "(?m)^title:[ \\t]*(.+)$", 1), lit(""))
        val h1 = nullif(regexp_extract(md, "(?m)^# (.+)$", 1), lit(""))
        Tables.documents(s, d).select(
          col("doc_id"),
          coalesce(fm, h1, concat(lit("doc-"), col("doc_id").cast("string"))).as("title"),
          when(fm.isNotNull, lit("metadata"))
            .when(h1.isNotNull, lit("content"))
            .otherwise(lit("filename")).as("title_source"))
          .orderBy("doc_id")
      },
      Some("""WITH m AS (SELECT doc_id, CASE
             |    WHEN doc_id % 3 = 0 THEN '---' || chr(10) || 'title: T' || doc_id || chr(10)
             |         || '---' || chr(10) || '# H' || doc_id || chr(10) || text
             |    WHEN doc_id % 3 = 1 THEN '# H' || doc_id || chr(10) || text
             |    ELSE text END AS md
             |  FROM documents),
             |x AS (SELECT doc_id,
             |    nullif(regexp_extract(md, '(?m)^title:[ \t]*(.+)$', 1), '') AS fm,
             |    nullif(regexp_extract(md, '(?m)^# (.+)$', 1), '') AS h1
             |  FROM m)
             |SELECT doc_id,
             |  coalesce(fm, h1, 'doc-' || doc_id) AS title,
             |  CASE WHEN fm IS NOT NULL THEN 'metadata'
             |       WHEN h1 IS NOT NULL THEN 'content'
             |       ELSE 'filename' END AS title_source
             |FROM x ORDER BY doc_id""".stripMargin)),

    // ----- F17: control-char strip + truncate-with-ellipsis -----
    Q("f17_clean_truncate",
      (s, d) => {
        val cleaned = regexp_replace(col("text"), "[\\x00-\\x08\\x0b-\\x1f]", "")
        val out = when(length(cleaned) > 200,
          concat(substring(cleaned, 1, 200), lit("…"))).otherwise(cleaned)
        Tables.documents(s, d).select(
          col("doc_id"), length(out).cast("long").as("out_len"), md5(out).as("out_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH c AS (SELECT doc_id,
             |    regexp_replace(text, '[\x00-\x08\x0b-\x1f]', '', 'g') AS cl
             |  FROM documents),
             |o AS (SELECT doc_id, CASE WHEN length(cl) > 200
             |    THEN substr(cl, 1, 200) || chr(8230) ELSE cl END AS out FROM c)
             |SELECT doc_id, length(out) AS out_len, md5(out) AS out_md5
             |FROM o ORDER BY doc_id""".stripMargin)),

    // ----- BPE vocabulary training (ops/Bpe): the merge table learned on
    // the corpus. Iterative-with-driver-loop by nature (each merge's argmax
    // feeds the next round), so no SQL oracle — BpeSpec cross-validates the
    // distributed delta-maintained learner merge-for-merge against a
    // sequential reference on randomized corpora. -----
    Q("t_bpe_merges",
      (s, d) => {
        import s.implicits._
        graft.ops.Bpe.learn(Tables.documents(s, d), "text",
          numMerges = 24, minCount = 2)
          .toDF().select(col("rank").cast("long").as("merge_rank"),
            col("left").as("lhs"), col("right").as("rhs"), col("merged"),
            col("pairCount").as("pair_count"))
          .orderBy("merge_rank")
      },
      None),

    // ----- BPE applied at corpus scale: learn the merge table, then encode
    // every document (greedy by rank, pure map-side — the merge table rides
    // the closure). Rows-only like t_bpe_merges (the learn step is the
    // non-SQL part); BpeSpec pins encode semantics. -----
    Q("t_bpe_encode",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val merges = graft.ops.Bpe.learn(docs, "text", numMerges = 24,
          minCount = 2)
        graft.ops.Bpe.encode(docs, "text", merges)
          .select(col("doc_id"), size(col("tokens")).cast("long").as("n_tokens"),
            md5(array_join(col("tokens"), "")).as("tokens_md5"))
          .orderBy("doc_id")
      },
      None),

    // ----- Unigram-LM vocabulary training (ops/Unigram): SentencePiece's
    // EM-trained piece table (Kudo 2018) — the tokenizer family production
    // vocabularies actually ship. Iterative EM with a driver-side M-step by
    // nature (like SentencePiece itself), so no SQL oracle — UnigramSpec
    // pins the distributed E-step against a sequential forward-backward
    // reference and Viterbi against brute-force enumeration; determinism
    // comes from the 9-decimal expected-count rounding inside learn().
    // Emitted logProbs are rounded again for parquet-level stability. -----
    Q("t_unigram_train",
      (s, d) => {
        import s.implicits._
        graft.ops.Unigram.learn(Tables.documents(s, d), "text",
          targetSize = 150, seedSize = 600)
          .toDF()
          .select(col("piece"),
            round(col("logProb"), 6).as("log_prob"))
          .orderBy(desc("log_prob"), asc("piece"))
      },
      None),

    // ----- Unigram-LM applied at corpus scale: learn the piece table, then
    // Viterbi-segment every document (pure map-side, the table rides the
    // closure — the same application shape as t_bpe_encode). -----
    Q("t_unigram_encode",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pieces = graft.ops.Unigram.learn(docs, "text",
          targetSize = 150, seedSize = 600)
        graft.ops.Unigram.encode(docs, "text", pieces)
          .select(col("doc_id"),
            size(col("tokens")).cast("long").as("n_tokens"),
            md5(array_join(col("tokens"), " ")).as("tokens_md5"))
          .orderBy("doc_id")
      },
      None),

    // ----- crawl-frontier URL canonicalization + URL-level dedup: four
    // messy spellings per document (uppercase host + default port +
    // tracking params + fragment; already-clean; https-with-:443 and
    // swapped param order mapping to a DIFFERENT canonical; trailing
    // slash, no params) all collapse to closed-form canonicals, so the
    // oracle KNOWS the answer by construction and any canonicalization
    // regression breaks the hash. dup_count groups by the canonical key
    // — the pre-content URL dedup every web pipeline runs first. -----
    Q("t_url_canonicalize",
      (s, d) => {
        val canon = udf((u: String) => TextAnalysis.canonicalUrl(u))
        val messy = expr("""CASE CAST(doc_id % 4 AS INT)
          |WHEN 0 THEN concat('HTTP://WWW.Example.COM:80/d/', source,
          |  '/page?utm_source=x&b=2&a=1#frag')
          |WHEN 1 THEN concat('http://www.example.com/d/', source, '/page?a=1&b=2')
          |WHEN 2 THEN concat('HTTPS://Example.COM:443/d/', source, '/page?b=2&a=1&gclid=z')
          |ELSE concat('http://www.example.com/d/', source, '/page/')
          |END""".stripMargin)
        val canonical = Tables.documents(s, d)
          .select(col("doc_id"), canon(messy).as("canonical"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("canonical")
        canonical.withColumn("dup_count", count(lit(1)).over(w).cast("long"))
          .orderBy("doc_id")
      },
      Some("""WITH c AS (SELECT doc_id,
             |    CASE CAST(doc_id % 4 AS INT)
             |      WHEN 0 THEN 'http://www.example.com/d/' || source || '/page?a=1&b=2'
             |      WHEN 1 THEN 'http://www.example.com/d/' || source || '/page?a=1&b=2'
             |      WHEN 2 THEN 'https://example.com/d/' || source || '/page?a=1&b=2'
             |      ELSE 'http://www.example.com/d/' || source || '/page'
             |    END AS canonical
             |  FROM documents)
             |SELECT doc_id, canonical,
             |  CAST(count(*) OVER (PARTITION BY canonical) AS BIGINT) AS dup_count
             |FROM c ORDER BY doc_id""".stripMargin)),

    // ----- T5-style span corruption (Raffel 2020 §3.1.4): the denoising
    // pretraining objective builder — mask spans of the token stream,
    // replace each MAXIMAL masked run with one numbered sentinel in the
    // input, and emit the sentinel-prefixed spans as the target. Span
    // starts are hash-chosen (the md5 hash60 idiom, ~10% of positions,
    // fixed length 3, overlaps merged), so the whole construction is
    // deterministic and the DuckDB oracle rebuilds input/target md5s
    // exactly. One shuffle for the positional window; everything else is
    // per-doc. -----
    Q("t_span_corruption",
      (s, d) => {
        val pws = Tables.documents(s, d)
          .withColumn("ws", graft.ops.Dedup.wordsArray("text"))
          .select(col("doc_id"), posexplode(col("ws")).as(Seq("p", "w")))
        val starts = pws.filter(
          graft.ops.Dedup.hash60(concat(col("doc_id").cast("string"),
            lit(":"), col("p").cast("string"))) % 10 === 0)
          .select(col("doc_id"), explode(expr("sequence(p, p + 2)")).as("q"))
          .distinct()
        val m = pws.join(starts.withColumnRenamed("q", "p"),
          Seq("doc_id", "p"), "left_semi").withColumn("masked", lit(true))
          .union(pws.join(starts.withColumnRenamed("q", "p"),
            Seq("doc_id", "p"), "left_anti").withColumn("masked", lit(false)))
        val wMask = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id", "masked").orderBy("p")
        val isl = m.withColumn("island",
          when(col("masked"), col("p") - row_number().over(wMask)))
        val islands = isl.filter(col("masked"))
          .groupBy("doc_id", "island")
          .agg(min("p").as("start"),
            expr("array_join(transform(array_sort(collect_list(struct(p, w)))," +
              " x -> x.w), ' ')").as("span"))
        val wIsl = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("start")
        val numbered = islands
          .withColumn("kidx", row_number().over(wIsl) - 1)
        val inputRows = isl.filter(!col("masked")).select(col("doc_id"), col("p"), col("w"))
          .union(numbered.select(col("doc_id"), col("start").as("p"),
            concat(lit("<extra_id_"), col("kidx"), lit(">")).as("w")))
        val inp = inputRows.groupBy("doc_id")
          .agg(expr("md5(array_join(transform(array_sort(collect_list(struct(p, w)))," +
            " x -> x.w), ' '))").as("input_md5"))
        val tgt = numbered.groupBy("doc_id")
          .agg(expr("md5(array_join(transform(array_sort(collect_list(struct(kidx, " +
            "concat('<extra_id_', kidx, '> ', span)))), x -> x.col2), ' '))")
            .as("target_md5"),
            count(lit(1)).as("n_spans"))
        Tables.documents(s, d).select(col("doc_id"))
          .join(inp, Seq("doc_id"), "left")
          .join(tgt, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("input_md5"), md5(lit(""))).as("input_md5"),
            coalesce(col("target_md5"), md5(lit(""))).as("target_md5"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, t.i - 1 AS p, ws[t.i] AS w
             |  FROM (SELECT doc_id,
             |      regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
             |    FROM documents) d2,
             |    unnest(range(1, len(ws) + 1)) t(i)),
             |st AS (SELECT doc_id, p FROM w
             |  WHERE CAST(concat('0x', substr(md5(doc_id || ':' || p), 1, 15)) AS BIGINT)
             |    % 10 = 0),
             |cov AS (SELECT DISTINCT doc_id, p + o.o AS p
             |  FROM st, unnest(range(0, 3)) o(o)),
             |m AS (SELECT w.doc_id, w.p, w.w, cov.p IS NOT NULL AS masked
             |  FROM w LEFT JOIN cov ON cov.doc_id = w.doc_id AND cov.p = w.p),
             |isl AS (SELECT *, p - row_number()
             |    OVER (PARTITION BY doc_id, masked ORDER BY p) AS island
             |  FROM m),
             |islands AS (SELECT doc_id, island, min(p) AS start,
             |    string_agg(w, ' ' ORDER BY p) AS span
             |  FROM isl WHERE masked GROUP BY 1, 2),
             |numbered AS (SELECT *, row_number()
             |    OVER (PARTITION BY doc_id ORDER BY start) - 1 AS kidx
             |  FROM islands),
             |inrows AS (
             |  SELECT doc_id, p, w FROM m WHERE NOT masked
             |  UNION ALL
             |  SELECT doc_id, start, '<extra_id_' || kidx || '>' FROM numbered),
             |inp AS (SELECT doc_id,
             |    md5(string_agg(w, ' ' ORDER BY p)) AS input_md5
             |  FROM inrows GROUP BY 1),
             |tgt AS (SELECT doc_id,
             |    md5(string_agg('<extra_id_' || kidx || '> ' || span,
             |      ' ' ORDER BY kidx)) AS target_md5,
             |    CAST(count(*) AS BIGINT) AS n_spans
             |  FROM numbered GROUP BY 1)
             |SELECT d.doc_id,
             |  coalesce(inp.input_md5, md5('')) AS input_md5,
             |  coalesce(tgt.target_md5, md5('')) AS target_md5,
             |  coalesce(tgt.n_spans, 0) AS n_spans
             |FROM documents d LEFT JOIN inp ON inp.doc_id = d.doc_id
             |LEFT JOIN tgt ON tgt.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ----- SFT prompt-masking layout: render a chat template around a
    // synthesized (user, assistant) turn pair and emit the LOSS-MASK
    // boundaries — prompt tokens (role markers + user turn) excluded
    // from the loss, assistant tokens included, the terminator excluded
    // — the packing-adjacent layout step every instruction-tuning
    // pipeline runs. Token stream = the corpus word rule over the
    // rendered text, so every count is closed-form from the two
    // substring windows and the oracle is exact. -----
    Q("t_sft_mask",
      (s, d) => {
        val u = expr("substr(text, 1, 40)")
        val a = expr("substr(text, 41, 60)")
        val rendered = concat(lit("<|user|> "), u,
          lit(" <|assistant|> "), a, lit(" <|end|>"))
        val toks = expr(
          "regexp_extract_all(lower(concat('<|user|> ', substr(text, 1, 40), " +
            "' <|assistant|> ', substr(text, 41, 60), ' <|end|>')), '[a-z0-9]+', 0)")
        val nU = expr(
          "size(regexp_extract_all(lower(substr(text, 1, 40)), '[a-z0-9]+', 0))")
        val nA = expr(
          "size(regexp_extract_all(lower(substr(text, 41, 60)), '[a-z0-9]+', 0))")
        Tables.documents(s, d).select(col("doc_id"),
            md5(rendered).as("rendered_md5"),
            size(toks).cast("long").as("n_tokens"),
            (nU + lit(2)).cast("long").as("loss_start"), // 'user' marker + user words + 'assistant' marker
            nA.cast("long").as("n_loss_tokens"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  md5('<|user|> ' || substr(text, 1, 40) || ' <|assistant|> ' ||
             |      substr(text, 41, 60) || ' <|end|>') AS rendered_md5,
             |  CAST(len(regexp_extract_all(lower('<|user|> ' || substr(text, 1, 40) ||
             |      ' <|assistant|> ' || substr(text, 41, 60) || ' <|end|>'),
             |      '[a-z0-9]+')) AS BIGINT) AS n_tokens,
             |  CAST(len(regexp_extract_all(lower(substr(text, 1, 40)),
             |      '[a-z0-9]+')) + 2 AS BIGINT) AS loss_start,
             |  CAST(len(regexp_extract_all(lower(substr(text, 41, 60)),
             |      '[a-z0-9]+')) AS BIGINT) AS n_loss_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----- DPO/RLHF preference-pair layout: a shared prompt with a
    // chosen and a rejected completion, plus the token accounting both
    // completions need for the reference-model pass (the post-training
    // twin of t_sft_mask — pack/sft/dpo complete the layout family).
    // Chosen/rejected are synthesized from disjoint substring windows;
    // pairs where the two completions COLLIDE (identical text — no
    // preference signal) are dropped, and that filter is itself
    // closed-form for the oracle. -----
    Q("t_dpo_pairs",
      (s, d) => {
        val prompt = expr("substr(text, 1, 30)")
        val chosen = expr("substr(text, 31, 40)")
        val rejected = expr("substr(text, 91, 40)")
        Tables.documents(s, d)
          .select(col("doc_id"), prompt.as("prompt"),
            chosen.as("chosen"), rejected.as("rejected"))
          .filter(col("chosen") =!= col("rejected"))
          .select(col("doc_id"),
            md5(concat(lit("<|prompt|> "), col("prompt"),
              lit(" <|chosen|> "), col("chosen"))).as("chosen_md5"),
            md5(concat(lit("<|prompt|> "), col("prompt"),
              lit(" <|rejected|> "), col("rejected"))).as("rejected_md5"),
            expr("CAST(size(regexp_extract_all(lower(chosen), '[a-z0-9]+', 0)) AS LONG)")
              .as("n_chosen_tokens"),
            expr("CAST(size(regexp_extract_all(lower(rejected), '[a-z0-9]+', 0)) AS LONG)")
              .as("n_rejected_tokens"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  md5('<|prompt|> ' || substr(text, 1, 30) || ' <|chosen|> ' ||
             |      substr(text, 31, 40)) AS chosen_md5,
             |  md5('<|prompt|> ' || substr(text, 1, 30) || ' <|rejected|> ' ||
             |      substr(text, 91, 40)) AS rejected_md5,
             |  CAST(len(regexp_extract_all(lower(substr(text, 31, 40)),
             |      '[a-z0-9]+')) AS BIGINT) AS n_chosen_tokens,
             |  CAST(len(regexp_extract_all(lower(substr(text, 91, 40)),
             |      '[a-z0-9]+')) AS BIGINT) AS n_rejected_tokens
             |FROM documents
             |WHERE substr(text, 31, 40) <> substr(text, 91, 40)
             |ORDER BY doc_id""".stripMargin)),

    // ----- WordPiece vocabulary training (ops/WordPiece): the BERT-family
    // tokenizer — BPE's delta loop with a likelihood-ratio argmax
    // (count(pair)/(count(l)·count(r))), which needs a SECOND
    // delta-maintained table (symbol marginals). Iterative argmax chain →
    // no SQL oracle; WordPieceSpec pins the distributed learner
    // merge-for-merge against the sequential reference at K=1 and K=8. -----
    Q("t_wordpiece_train",
      (s, d) => {
        import s.implicits._
        graft.ops.WordPiece.learn(Tables.documents(s, d), "text",
          numMerges = 40, minCount = 2)
          .toDF()
          // lhs/rhs/merge_rank: `left`/`right`/`rank` are reserved words
          // in DuckDB and would break the harness's ORDER-BY-ALL readback
          .select(col("rank").as("merge_rank"), col("left").as("lhs"),
            col("right").as("rhs"), col("merged"),
            col("pairCount").as("pair_count"),
            round(col("score"), 9).as("score"))
          .orderBy("merge_rank")
      },
      None),

    // ----- WordPiece applied at corpus scale: greedy LONGEST-MATCH-FIRST
    // segmentation against the learned vocabulary (BERT's
    // WordpieceTokenizer — vocabulary lookup, not merge replay), map-side
    // with the vocab riding the closure. -----
    Q("t_wordpiece_encode",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val merges = graft.ops.WordPiece.learn(docs, "text",
          numMerges = 40, minCount = 2)
        val vocab = graft.ops.WordPiece.vocabulary(docs, "text", merges)
        graft.ops.WordPiece.encode(docs, "text", vocab)
          .select(col("doc_id"),
            size(col("tokens")).cast("long").as("n_tokens"),
            md5(array_join(col("tokens"), " ")).as("tokens_md5"))
          .orderBy("doc_id")
      },
      None),

    // ----- temperature-based mixture quotas: sampling weights COMPUTED
    // from per-language counts (w_d ∝ cnt_d^(1/2) — the standard
    // temperature rebalance that upsamples low-resource slices), unlike
    // t_domain_mix's fixed weight vector. sqrt is IEEE-correctly-rounded
    // in both engines, so the quota arithmetic agrees bit-for-bit. -----
    Q("t_temperature_mix",
      (s, d) => {
        val budget = 200L
        val counts = Tables.documents(s, d)
          .groupBy("lang").agg(count(lit(1)).as("cnt"))
        val tot = counts.agg(sum(sqrt(col("cnt"))).as("tot"))
        val quotas = counts.crossJoin(broadcast(tot))
          .select(col("lang"), col("cnt"),
            round(lit(budget) * sqrt(col("cnt")) / col("tot"))
              .cast("long").as("quota"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang")
          .orderBy(graft.ops.Dedup.hash60(col("doc_id").cast("string")).asc,
            col("doc_id").asc)
        Tables.documents(s, d)
          .withColumn("rk", row_number().over(w))
          .join(broadcast(quotas), "lang")
          .filter(col("rk") <= col("quota"))
          .select(col("lang"), col("doc_id"), col("rk"), col("quota"))
          .orderBy("lang", "rk")
      },
      Some("""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt
             |          FROM documents GROUP BY 1),
             |t AS (SELECT sum(sqrt(cnt)) AS tot FROM c),
             |q AS (SELECT lang, cnt,
             |        CAST(round(200 * sqrt(cnt) / tot) AS BIGINT) AS quota
             |      FROM c CROSS JOIN t),
             |r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
             |    ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
             |             doc_id) AS rk
             |  FROM documents)
             |SELECT r.lang, r.doc_id, r.rk, q.quota
             |FROM r JOIN q ON q.lang = r.lang WHERE r.rk <= q.quota
             |ORDER BY r.lang, r.rk""".stripMargin)),

    // ----- DSIR data selection (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): score every pool
    // document (source <> 'src0') by the log importance weight of its
    // hashed-bigram counts under target-vs-pool bucket unigram models
    // (target = src0), keep the top 100. The feature space is a FIXED
    // B=512 bucket vocabulary, so both distribution models and the
    // log-ratio table are tiny broadcast dims at ANY corpus size; the
    // only corpus-sized shuffle is the per-(doc, bucket) count, and the
    // final top-k is a TakeOrdered, never a full sort. Buckets come from
    // an md5 prefix (the hash60 idiom) so DuckDB reproduces them; the
    // per-bucket log ratio is rounded to 6 decimals (libm parity, as
    // t_tfidf) and then SCALED TO A 1e-6 INTEGER, so the per-doc sum is
    // exact integer arithmetic — float sums are order-dependent in the
    // last ulp, and a doc whose true score sits on a rounding boundary
    // would hash-differ between engines (observed at build time). -----
    Q("t_dsir_select",
      (s, d) => {
        val B = 512
        val alpha = 0.5
        val grams = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            graft.ops.Dedup.wordsArray("text").as("ws"))
          .select(col("doc_id"), col("source"),
            explode(expr("CASE WHEN size(ws) >= 2 THEN " +
              "transform(sequence(0, size(ws)-2), i -> concat(ws[i], ' ', ws[i+1])) " +
              "ELSE CAST(array() AS array<string>) END")).as("g"))
          .withColumn("b",
            conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long") % B)
        val isTarget = col("source") === "src0"
        val stats = grams.groupBy("b").agg(
          sum(when(isTarget, 1L).otherwise(0L)).as("tcnt"),
          sum(when(isTarget, 0L).otherwise(1L)).as("rcnt"))
        val tot = stats.agg(sum("tcnt").as("ttot"), sum("rcnt").as("rtot"))
        val lw = stats.crossJoin(broadcast(tot)).select(col("b"),
          round(round(log((col("tcnt") + alpha) / (col("ttot") + alpha * B)) -
                      log((col("rcnt") + alpha) / (col("rtot") + alpha * B)), 6)
            * 1e6).cast("long").as("lwi"))
        grams.filter(!isTarget)
          .groupBy("doc_id", "b").agg(count(lit(1)).as("cnt"))
          .join(broadcast(lw), "b")
          .groupBy("doc_id")
          .agg(round(sum(col("cnt") * col("lwi")) / 1e6, 4).as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(100)
      },
      Some("""WITH w AS (SELECT doc_id, source,
             |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
             |g AS (SELECT doc_id, source,
             |    unnest(list_transform(range(1, len(ws)),
             |      i -> ws[i] || ' ' || ws[i+1])) AS g FROM w),
             |bk AS (SELECT doc_id, source,
             |    CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 512 AS b
             |  FROM g),
             |st AS (SELECT b,
             |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS tcnt,
             |    CAST(sum(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) AS BIGINT) AS rcnt
             |  FROM bk GROUP BY 1),
             |tot AS (SELECT CAST(sum(tcnt) AS BIGINT) AS ttot,
             |               CAST(sum(rcnt) AS BIGINT) AS rtot FROM st),
             |lw AS (SELECT b, CAST(round(round(
             |      ln((tcnt + 0.5) / (ttot + 0.5 * 512)) -
             |      ln((rcnt + 0.5) / (rtot + 0.5 * 512)), 6) * 1e6) AS BIGINT) AS lwi
             |  FROM st CROSS JOIN tot),
             |pd AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS cnt FROM bk
             |  WHERE source <> 'src0' GROUP BY 1, 2),
             |sc AS (SELECT doc_id,
             |    round(CAST(sum(cnt * lwi) AS BIGINT) / 1e6, 4) AS score
             |  FROM pd JOIN lw USING (b) GROUP BY 1)
             |SELECT doc_id, score FROM sc
             |ORDER BY score DESC, doc_id LIMIT 100""".stripMargin),
      bench = true),

    // ----- TF-IDF top terms per document — the classic relevance weighting
    // over (term, doc) counts. The per-doc window sorts only each doc's own
    // term set (bounded by document length, not corpus size), after the
    // (doc, term) aggregation already shuffled once; ln() is rounded to 6
    // decimals on BOTH sides before ranking so cross-engine libm ulps can
    // neither flip a rank nor a hash. -----
    Q("t_tfidf_topterms",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val words = docs.select(col("doc_id"),
          explode(graft.ops.Dedup.wordsArray("text")).as("w"))
        val tf = words.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n"))
        val scored = tf.join(dfreq, "w").crossJoin(broadcast(n))
          .select(col("doc_id"), col("w"), col("tf"),
            round(col("tf") * log(col("n") / col("df")), 6).as("score"))
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("score").desc, col("w"))
        scored.withColumn("rn", row_number().over(win))
          .filter(col("rn") <= 5).drop("rn")
          .orderBy(col("doc_id"), col("score").desc, col("w"))
      },
      Some("""WITH w AS (SELECT doc_id,
             |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
             |  FROM documents),
             |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
             |       FROM w GROUP BY 1, 2),
             |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents),
             |s AS (SELECT doc_id, tf.w AS w, tf,
             |        round(tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS score
             |      FROM tf JOIN df USING (w) CROSS JOIN n),
             |r AS (SELECT *, row_number()
             |        OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rn
             |      FROM s)
             |SELECT w, doc_id, tf, score FROM r WHERE rn <= 5
             |ORDER BY doc_id, score DESC, w""".stripMargin)),

    // ----- PMI collocations: which adjacent word pairs co-occur far more
    // than chance — the corpus-statistics signal behind multi-word-unit
    // detection. Pair counts keep multiplicity (unlike t_ngram_vocab's
    // document frequency); probabilities are pairs/N_pairs vs
    // unigrams/N_tokens, min support 20, top 50 by PMI. -----
    Q("t_pmi_collocations",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val ws = docs.select(graft.ops.Dedup.wordsArray("text").as("ws"))
        val pairs = ws
          .select(explode(zip_with(
            slice(col("ws"), lit(1), size(col("ws")) - 1),
            slice(col("ws"), lit(2), size(col("ws")) - 1),
            (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(count(lit(1)).as("c_xy"))
        val uni = ws.select(explode(col("ws")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
        val totals = pairs.agg(sum("c_xy").as("n_pairs"))
          .crossJoin(uni.agg(sum("c").as("n_tok")))
        pairs.filter(col("c_xy") >= 20)
          .join(uni.select(col("w").as("a"), col("c").as("c_a")), "a")
          .join(uni.select(col("w").as("b"), col("c").as("c_b")), "b")
          .crossJoin(broadcast(totals))
          .select(col("a"), col("b"), col("c_xy"),
            round(log((col("c_xy") / col("n_pairs")) /
              ((col("c_a") / col("n_tok")) * (col("c_b") / col("n_tok")))), 6)
              .as("pmi"))
          .orderBy(col("pmi").desc, col("a"), col("b")).limit(50)
      },
      Some("""WITH w AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
             |          FROM documents),
             |p AS (SELECT unnest([{'a': ws[i], 'b': ws[i+1]}
             |               for i in range(1, len(ws))]) AS s
             |      FROM w WHERE len(ws) >= 2),
             |pc AS (SELECT s.a AS a, s.b AS b, CAST(count(*) AS BIGINT) AS c_xy
             |       FROM p GROUP BY 1, 2),
             |u AS (SELECT unnest(ws) AS w FROM w),
             |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY 1),
             |t AS (SELECT (SELECT CAST(sum(c_xy) AS DOUBLE) FROM pc) AS n_pairs,
             |             (SELECT CAST(sum(c) AS DOUBLE) FROM uc) AS n_tok)
             |SELECT pc.a, pc.b, c_xy,
             |  round(ln((c_xy / n_pairs) /
             |    ((ua.c / n_tok) * (ub.c / n_tok))), 6) AS pmi
             |FROM pc JOIN uc ua ON pc.a = ua.w JOIN uc ub ON pc.b = ub.w
             |CROSS JOIN t WHERE c_xy >= 20
             |ORDER BY pmi DESC, pc.a, pc.b LIMIT 50""".stripMargin))
  )
}
