package graft.queries

import graft.{GQuery, Tables}
import graft.functions.HashFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` — the north-star family:
  * token counting, per-language corpus stats, quality scoring, language-ID
  * heuristics, and document fingerprinting.
  *
  * All of these are single narrow projections or one grouped aggregation —
  * at 100 TB they are scan-bound with full pushdown, no shuffle except the
  * final per-language rollup.
  */
object Text {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "documents")

  private val tokens = split(col("text"), " ")

  // Whitespace token count per document. Portable formulation (space counting)
  // keeps the oracle exact on consecutive-space edge cases.
  private val x10 = GQuery(
    "x10_token_counts", "ext-text",
    (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), size(tokens).cast("long").as("n_tokens"),
          col("n_chars"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, n_chars
            FROM documents ORDER BY doc_id"""))

  // BPE-ish regex token counting: letter runs / digit runs / single
  // punctuation as separate tokens (the pre-tokenizer split BPE vocabularies
  // assume). Same regex runs in Spark (Java regex) and DuckDB (RE2) — kept
  // to the common dialect subset.
  private val x10b = GQuery(
    "x10b_token_bpe", "ext-text",
    (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          size(expr("""regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)"""))
            .cast("long").as("n_bpe_tokens"),
          size(expr("""regexp_extract_all(text, '[0-9]+', 0)""")).cast("long").as("n_numbers"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
              CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
              CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_numbers
            FROM documents ORDER BY doc_id"""))

  // Per-language corpus stats: doc counts, exact char totals, token totals.
  private val x11 = GQuery(
    "x11_text_stats_by_lang", "ext-text",
    (s, dir) =>
      docs(s, dir)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          sum(size(tokens)).cast("long").as("total_tokens"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang"),
    Some("""SELECT lang, COUNT(*) AS n_docs,
              CAST(SUM(n_chars) AS BIGINT) AS total_chars,
              CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
              COUNT(DISTINCT source) AS n_sources
            FROM documents GROUP BY lang ORDER BY lang"""))

  // Quality scoring: token count, mean token length, stopword ratio, unique
  // ratio → tiered label. Ratios divide exact ints, so doubles match exactly.
  private val x12 = GQuery(
    "x12_quality_score", "ext-text",
    (s, dir) => {
      val nTok = size(tokens).cast("long")
      val nStop = size(expr("filter(split(text, ' '), t -> t IN ('the', 'a'))")).cast("long")
      val nUniq = size(array_distinct(tokens)).cast("long")
      val charsNoSpace = length(regexp_replace(col("text"), " ", "")).cast("long")
      docs(s, dir)
        .select(
          col("doc_id"), nTok.as("n_tokens"),
          (charsNoSpace.cast("double") / nTok).as("avg_token_len"),
          (nStop.cast("double") / nTok).as("stop_ratio"),
          (nUniq.cast("double") / nTok).as("uniq_ratio"))
        .withColumn("quality",
          when(col("n_tokens") >= 50 && col("uniq_ratio") >= 0.5, "good")
            .when(col("n_tokens") >= 20, "ok")
            .otherwise("short"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
              CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len,
              CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS DOUBLE)
                / len(string_split(text, ' ')) AS stop_ratio,
              CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                / len(string_split(text, ' ')) AS uniq_ratio,
              CASE WHEN len(string_split(text, ' ')) >= 50
                        AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                            / len(string_split(text, ' ')) >= 0.5 THEN 'good'
                   WHEN len(string_split(text, ' ')) >= 20 THEN 'ok'
                   ELSE 'short' END AS quality
            FROM documents ORDER BY doc_id"""))

  // Language-ID heuristic: marker-token voting with a deterministic argmax
  // (a stand-in for n-gram models — the scoring skeleton is the operator).
  // Shared by x13 (per-doc output) and x53 (confusion matrix) so the
  // classifier under evaluation is the classifier being run.
  private def langVotes(d: DataFrame): DataFrame = {
    def votes(markers: String) =
      size(expr(s"filter(split(text, ' '), t -> t IN ($markers))")).cast("long")
    val vData = votes("'data', 'row', 'column', 'table'")
    val vQuery = votes("'query', 'filter', 'join', 'sort'")
    val vStream = votes("'stream', 'window', 'batch', 'spark'")
    d.select(col("doc_id"), col("lang"),
      vData.as("v_data"), vQuery.as("v_query"), vStream.as("v_stream"))
      .withColumn("lang_guess",
        when(col("v_data") > col("v_query") && col("v_data") > col("v_stream"), "tabular")
          .when(col("v_query") > col("v_data") && col("v_query") > col("v_stream"), "relational")
          .when(col("v_stream") > col("v_data") && col("v_stream") > col("v_query"), "streaming")
          .otherwise("und"))
  }

  private val x13 = GQuery(
    "x13_langid_heuristic", "ext-text",
    (s, dir) => langVotes(docs(s, dir)).orderBy("doc_id"),
    Some("""WITH v AS (
              SELECT doc_id, lang,
                CAST(len(list_filter(string_split(text, ' '), t -> t IN ('data', 'row', 'column', 'table'))) AS BIGINT) AS v_data,
                CAST(len(list_filter(string_split(text, ' '), t -> t IN ('query', 'filter', 'join', 'sort'))) AS BIGINT) AS v_query,
                CAST(len(list_filter(string_split(text, ' '), t -> t IN ('stream', 'window', 'batch', 'spark'))) AS BIGINT) AS v_stream
              FROM documents)
            SELECT doc_id, lang, v_data, v_query, v_stream,
              CASE WHEN v_data > v_query AND v_data > v_stream THEN 'tabular'
                   WHEN v_query > v_data AND v_query > v_stream THEN 'relational'
                   WHEN v_stream > v_data AND v_stream > v_query THEN 'streaming'
                   ELSE 'und' END AS lang_guess
            FROM v ORDER BY doc_id"""))

  // Content-defined fingerprint: md5 of the normalized text. Exactly the
  // dedup-key pattern used at corpus scale (hash once, group by hash).
  private val x14 = GQuery(
    "x14_fingerprint_md5", "ext-text ext-dedup",
    (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
            FROM documents ORDER BY doc_id"""))

  // Order-sensitive rolling-hash fingerprint via the native TokenRollingHash
  // Catalyst expression (no SQL oracle — JVM-specific 64-bit wraparound).
  private val x15 = GQuery(
    "x15_fingerprint_rolling", "ext-text custom-expression",
    (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), HashFunctions.tokenRollingHash(tokens).as("fp"),
          HashFunctions.simhash64(tokens).as("simhash"))
        .orderBy("doc_id"),
    None) // covered by HashExpressionsSpec

  // Corpus token frequency top-50: the boilerplate/contamination-detection
  // staple. One explode + count with map-side partial aggregation, then
  // top-k — at corpus scale the explode shuffles (token, partial_count),
  // never documents.
  private val x18 = GQuery(
    "x18_frequent_tokens", "ext-text topk-agg",
    (s, dir) =>
      docs(s, dir)
        .select(explode(tokens).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50),
    Some("""SELECT t.token, COUNT(*) AS n
            FROM documents d, unnest(string_split(d.text, ' ')) AS t(token)
            GROUP BY t.token ORDER BY n DESC, t.token LIMIT 50"""))

  // Sketch-based frequent tokens — the 100 TB path next to x18's exact
  // groupBy: single-pass Misra-Gries-style candidate set (stat.freqItems)
  // with bounded memory, no full-vocabulary aggregation. Guarantee: every
  // token with frequency above the support threshold IS in the candidate
  // set (false positives possible, no false negatives) — TextSpec pins the
  // exact top tokens all appear.
  private val x20 = GQuery(
    "x20_frequent_tokens_sketch", "ext-text sketch-agg",
    (s, dir) => {
      import s.implicits._
      docs(s, dir)
        .select(explode(tokens).as("token"))
        .stat.freqItems(Seq("token"), support = 0.005)
        .select(explode(col("token_freqItems")).as("candidate"))
        .orderBy("candidate")
    },
    None) // sketch candidate set: superset semantics, spec-gated

  // Stratified corpus sampling: the per-language downsampling step a
  // training-data mixer runs. Per-stratum selection by a content-
  // independent deterministic coin — the first 2 hex chars of
  // md5(doc_id:x21:lang) compared (inclusively) against a per-language
  // bound, so fraction = (bound+1)/256 exactly: '3f' = 64/256 = 25 %,
  // '7f' = 50 %, 'ff' = keep-all. Unlike stat.sampleBy (seeded
  // PER-PARTITION RNG, whose sample changes under repartitioning — the
  // x42 lesson), the same rows are kept on every run on any cluster, which
  // also makes the query exactly DuckDB-oracled. Narrow one-pass operator:
  // no shuffle before the final per-lang rollup; the bound table is a
  // 5-row broadcast. stat.sampleBy itself (the built-in API this replaces)
  // stays covered by TextSketchSpec's sampleBy gate.
  private val x21 = GQuery(
    "x21_stratified_sample", "ext-text sampling",
    (s, dir) => {
      import s.implicits._
      val bounds = Seq(("en", "3f"), ("de", "ff"), ("es", "7f"),
        ("fr", "7f"), ("zh", "ff")).toDF("lang", "bound")
      docs(s, dir)
        .join(broadcast(bounds), "lang")
        .where(substring(md5(concat(col("doc_id"), lit(":x21:"), col("lang"))), 1, 2)
          <= col("bound"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy("lang")
    },
    Some("""WITH bounds(lang, bound) AS (VALUES
              ('en', '3f'), ('de', 'ff'), ('es', '7f'), ('fr', '7f'), ('zh', 'ff'))
            SELECT d.lang, COUNT(*) AS n_sampled
            FROM documents d JOIN bounds b ON d.lang = b.lang
            WHERE substr(md5(d.doc_id || ':x21:' || d.lang), 1, 2) <= b.bound
            GROUP BY d.lang ORDER BY d.lang"""))

  // Gopher-style repetition quality filter: top-token fraction (most frequent
  // token / total tokens) and duplicate-bigram fraction — the published
  // repetition signals for filtering boilerplate/spam out of training data
  // (line-based variants degenerate on this corpus: no newlines in `text`).
  //
  // Scale shape: the bigram stats are a narrow per-row projection; the token
  // frequency pass explodes to (doc_id, token) with map-side partial
  // aggregation, then reduces to one row per doc — the exchange carries
  // (doc_id, token, count), never documents. Thresholds (0.2 / 0.5) follow
  // the Gopher-rules ballpark; ratios divide exact ints so doubles hash-match
  // the oracle bit-for-bit.
  /** Word n-gram window expression over a pre-split `toks` column — the
    * caller projects `split(text, ' ') AS toks` FIRST: referencing split()
    * inside the transform lambda re-runs the regex split per element,
    * O(tokens²) work per document (measured 2.6x on x145's profile before
    * the same hoist; CollapseProject never inlines a non-cheap expression
    * referenced more than once, so the hoist survives optimization). The
    * greatest() keeps sequence ascending for docs shorter than n tokens
    * (Spark's sequence(1, 0) is the DESCENDING [1, 0] and slice(w, 0, _)
    * throws); those docs yield one whole-doc "shingle", which every caller
    * either guards (x23's CASE) or tolerates (x24/x31: a short doc is a
    * valid contamination unit).
    */
  private def wordNgrams(n: Int) = expr(
    s"transform(sequence(1, greatest(size(toks) - ${n - 1}, 1)), i -> array_join(slice(toks, i, $n), ' '))")

  /** Per-doc repetition stats (doc_id, top_token_frac, dup_bigram_frac,
    * keep) — shared by x23 and the x31 composite so the two cannot drift.
    *
    * Every statistic is per-document LOCAL, so the whole computation is one
    * narrow scan-bound projection: the top-token multiplicity comes from the
    * native TopTokenCount kernel (exact string counts, one pass per row)
    * instead of the explode → groupBy(doc, token) → groupBy(doc) idiom,
    * which shuffles one row per corpus token. HashExpressionsSpec pins
    * kernel-vs-explode agreement; the DuckDB oracle is unchanged.
    */
  private def repetitionStats(d: DataFrame): DataFrame = {
    val bigrams = wordNgrams(2)
    // null-text docs are dropped, matching both the previous explode
    // formulation (explode of a null array emits nothing) and the oracle
    // (unnest(string_split(NULL)) drops the doc)
    d.where(col("text").isNotNull)
      .select(col("doc_id"), tokens.as("toks"))
      .select(col("doc_id"),
      graft.functions.HashFunctions.topTokenCount(col("toks")).as("top_c"),
      size(col("toks")).cast("long").as("n_tok"),
      (size(col("toks")) - 1).cast("long").as("n_bigrams"),
      size(array_distinct(bigrams)).cast("long").as("n_uniq_bigrams"))
      .select(col("doc_id"),
        (col("top_c").cast("double") / col("n_tok")).as("top_token_frac"),
        when(col("n_bigrams") >= 1,
          lit(1.0) - col("n_uniq_bigrams").cast("double") / col("n_bigrams"))
          .otherwise(0.0).as("dup_bigram_frac"))
      .withColumn("keep", col("top_token_frac") <= 0.2 && col("dup_bigram_frac") <= 0.5)
  }

  /** Benchmark docs: doc_id < this are the held-out eval-suite stand-in
    * (package-visible so plan specs can reconstruct the string form at the
    * same split).
    */
  private[graft] val BenchBound = 50

  /** (doc_id, n_hits) for corpus docs sharing a word-6-gram with the
    * benchmark set — shared by x24 and x31.
    *
    * Joins on 64-bit shingle hashes (the native ShingleHashes kernel: one
    * xxhash per token, Karp-Rabin window combine — no n-gram strings are
    * ever materialized), so the broadcast set and the join keys are 8 bytes
    * per shingle. The DuckDB oracle works over the exact string n-grams;
    * the counts agree because distinct-hash counts equal distinct-shingle
    * counts up to a ~2⁻⁶⁴-probability window collision (TextSketchSpec pins
    * hash-vs-string agreement end to end on the fixture corpus).
    */
  private[graft] def contaminationHits(d: DataFrame): DataFrame = {
    val sh = d.select(col("doc_id"),
      explode(array_distinct(graft.functions.HashFunctions.shingleHashes(tokens, 6)))
        .as("shingle"))
    val bench = sh.where(col("doc_id") < BenchBound).select("shingle").distinct()
    sh.where(col("doc_id") >= BenchBound)
      .join(broadcast(bench), "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
  }

  /** 32-token/stride-24 chunk explode over `d` (needs a text column),
    * keeping `passthrough` columns — shared by x25 and x31.
    */
  private def chunked(d: DataFrame, passthrough: Seq[String] = Nil): DataFrame = {
    // toks hoisted out of the lambda: see wordNgrams' scaladoc
    val chunks = expr(
      "transform(sequence(1, size(toks), 24), i -> array_join(slice(toks, i, 32), ' '))")
    d.select(col("doc_id") +: passthrough.map(col) :+ tokens.as("toks"): _*)
      .select(col("doc_id") +: passthrough.map(col) :+ posexplode(chunks): _*)
      .select(col("doc_id") +: passthrough.map(col) :+
        col("pos").cast("long").as("chunk_idx") :+ col("col").as("chunk"): _*)
      .withColumn("n_chunk_tokens", size(split(col("chunk"), " ")).cast("long"))
  }

  private val x23 = GQuery(
    "x23_repetition_filter", "ext-text quality-filter",
    (s, dir) => repetitionStats(docs(s, dir)).orderBy("doc_id"),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            tok AS (SELECT doc_id, unnest(w) AS token FROM w),
            tf AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
            top AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_tok FROM tf GROUP BY 1),
            bg AS (SELECT doc_id,
                    CAST(len(w) - 1 AS BIGINT) AS n_bigrams,
                    CAST(len(list_distinct(list_transform(range(1, len(w)),
                      i -> array_to_string(w[i:i+1], ' ')))) AS BIGINT) AS n_uniq_bigrams
                   FROM w)
            SELECT t.doc_id,
              CAST(top_c AS DOUBLE) / n_tok AS top_token_frac,
              CASE WHEN n_bigrams >= 1
                   THEN 1.0 - CAST(n_uniq_bigrams AS DOUBLE) / n_bigrams
                   ELSE 0.0 END AS dup_bigram_frac,
              (CAST(top_c AS DOUBLE) / n_tok <= 0.2
               AND CASE WHEN n_bigrams >= 1
                        THEN 1.0 - CAST(n_uniq_bigrams AS DOUBLE) / n_bigrams
                        ELSE 0.0 END <= 0.5) AS keep
            FROM top t JOIN bg USING (doc_id) ORDER BY doc_id"""))

  // Benchmark decontamination: flag corpus documents sharing any word-6-gram
  // with a held-out benchmark set (docs 0-49 stand in for the eval suite) —
  // the overlap check every serious training-data pipeline runs before
  // training. Output: contaminated doc -> number of distinct leaked shingles.
  //
  // Scale shape: the benchmark side is small by construction (eval suites,
  // not corpora), so its distinct shingle set broadcasts; the corpus side is
  // a narrow explode whose matches are rare, so the post-join count shuffles
  // almost nothing. Shingles travel as 64-bit kernel hashes (see
  // contaminationHits), not strings — the 100 TB form — while the DuckDB
  // oracle stays on exact string n-grams.
  private val x24 = GQuery(
    "x24_decontaminate", "ext-text decontamination",
    (s, dir) => contaminationHits(docs(s, dir)).orderBy("doc_id"),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            sh AS (SELECT doc_id,
                     unnest(list_distinct(list_transform(range(1, greatest(len(w) - 5, 1) + 1),
                       i -> array_to_string(w[i:i+5], ' ')))) AS shingle
                   FROM w),
            bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 50)
            SELECT doc_id, COUNT(*) AS n_hits
            FROM sh JOIN bench USING (shingle)
            WHERE doc_id >= 50
            GROUP BY doc_id ORDER BY doc_id"""))

  // Sketch-based decontamination — x24's broadcast set replaced by a
  // sketch. x24 broadcasts the benchmark's distinct shingle-hash set; at
  // eval-suite sizes that is fine, but when the "benchmark" is itself large
  // (dedup against a whole held-out corpus), the broadcast becomes a Bloom
  // filter: fixed memory
  // (fpp 1%), built in one pass over the benchmark side with
  // `df.stat.bloomFilter`, shipped to executors once, membership-tested
  // per corpus shingle with zero join/shuffle.
  //
  // Honest trade, spec-gated instead of oracle-gated: Bloom membership has
  // NO false negatives (everything x24 flags, this flags — TextSketchSpec
  // pins the superset relation) but a bounded false-positive rate (docs
  // whose shingles collide can be over-flagged; the spec bounds the
  // excess). Shingles enter the sketch as the same 64-bit ShingleHashes
  // longs x24 joins on, so the sketch hashes 8-byte keys instead of n-gram
  // strings. The membership test is the native BloomMightContainLong
  // expression — a codegen'd mightContainLong call against the broadcast
  // sketch (one .value() resolution per executor, no UDF boxing; Spark's
  // own might_contain is private[sql], reserved for runtime filters).
  private val x39 = GQuery(
    "x39_decontaminate_bloom", "ext-text decontamination sketch",
    (s, dir) => {
      val sh = docs(s, dir)
        .select(col("doc_id"),
          explode(array_distinct(graft.functions.HashFunctions.shingleHashes(tokens, 6)))
            .as("shingle"))
      val bloom = sh.where(col("doc_id") < BenchBound).select("shingle").distinct()
        .stat.bloomFilter("shingle", expectedNumItems = 100000L, fpp = 0.01)
      val bc = s.sparkContext.broadcast(bloom)
      sh.where(col("doc_id") >= BenchBound)
        .where(graft.functions.HashFunctions.bloomMightContainLong(col("shingle"), bc))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
        .orderBy("doc_id")
    },
    None) // approximate (Bloom collisions): gated by TextSketchSpec vs x24

  // Token-window chunking: split every document into 32-token windows with
  // stride 24 (8-token overlap) — the context-window prep step for training
  // and retrieval corpora. Pure narrow operator: the chunk list is built and
  // exploded inside one projection, no shuffle anywhere; at 100 TB this is
  // scan-bound and embarrassingly parallel. posexplode's 0-based pos is the
  // chunk index, matching the oracle's (start-1)/stride.
  private val x25 = GQuery(
    "x25_chunk_documents", "ext-text chunking",
    (s, dir) => chunked(docs(s, dir)).orderBy("doc_id", "chunk_idx"),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            ch AS (SELECT doc_id, unnest(list_transform(range(1, len(w) + 1, 24),
                     s -> struct_pack(ci := (s - 1) // 24, ch := array_to_string(w[s:s+31], ' ')))) AS u
                   FROM w)
            SELECT doc_id, CAST(u.ci AS BIGINT) AS chunk_idx, u.ch AS chunk,
              CAST(len(string_split(u.ch, ' ')) AS BIGINT) AS n_chunk_tokens
            FROM ch ORDER BY doc_id, chunk_idx"""))

  // Mixture weighting: given target per-language shares, derive the
  // per-stratum sampling multiplier (target_share x total / stratum_count)
  // and the capped no-upsampling fraction — the arithmetic a training-data
  // mixer feeds into x21's per-stratum sampler. One tiny grouped aggregate plus two
  // broadcast joins (totals row + targets table); the corpus is scanned
  // once, scan-bound at 100 TB.
  private val x29 = GQuery(
    "x29_mixture_weights", "ext-text sampling-weights",
    (s, dir) => {
      import s.implicits._
      val targets = Seq(("en", 0.4), ("de", 0.15), ("es", 0.15),
        ("fr", 0.15), ("zh", 0.15)).toDF("lang", "target_share")
      val counts = docs(s, dir).groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val tot = counts.agg(sum(col("n_docs")).as("total"))
      counts.crossJoin(broadcast(tot)).join(broadcast(targets), "lang")
        .select(col("lang"), col("n_docs"),
          (col("n_docs").cast("double") / col("total")).as("actual_share"),
          col("target_share"),
          (col("target_share") * col("total") / col("n_docs")).as("weight"),
          least(lit(1.0), col("target_share") * col("total") / col("n_docs"))
            .as("sample_frac"))
        .orderBy("lang")
    },
    Some("""WITH targets(lang, target_share) AS (VALUES
              ('en', CAST(0.4 AS DOUBLE)), ('de', CAST(0.15 AS DOUBLE)),
              ('es', CAST(0.15 AS DOUBLE)), ('fr', CAST(0.15 AS DOUBLE)),
              ('zh', CAST(0.15 AS DOUBLE))),
            counts AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
            tot AS (SELECT SUM(n_docs) AS total FROM counts)
            SELECT c.lang, c.n_docs,
              CAST(c.n_docs AS DOUBLE) / total AS actual_share,
              t.target_share,
              t.target_share * total / c.n_docs AS weight,
              least(1.0, t.target_share * total / c.n_docs) AS sample_frac
            FROM counts c CROSS JOIN tot JOIN targets t ON c.lang = t.lang
            ORDER BY c.lang"""))

  /** Segmented inverted index: token -> posting-list SEGMENTS — the
    * retrieval-side primitive built from the same explode/aggregate shape
    * as x18, in the layout production posting lists actually use
    * (Lucene/ES-style per-range segments).
    *
    * Every aggregation buffer is bounded by construction: postings group by
    * the composite key (token, doc_id div segWidth), so even a stopword
    * appearing in every document materializes at most `segWidth` ids per
    * buffer — the unbounded-collect_list-per-token hazard of the flat
    * layout cannot occur at any corpus size. Token-level df (for the >= 5
    * floor) is a window over the segment rows — at most
    * |doc_id range| / segWidth rows per token, corpus-bounded and tiny.
    * A reader reconstructs the flat list by concatenating a token's
    * segments in `seg` order (segments partition doc_id space in order);
    * InvertedIndexSpec pins both the bound and the reconstruction.
    *
    * Scale shape: shuffles (token, doc_id) pairs with map-side distinct via
    * array_distinct before the explode; document bodies never shuffle.
    */
  def invertedIndex(d: DataFrame, segWidth: Long, minDf: Long): DataFrame = {
    val wTok = org.apache.spark.sql.expressions.Window.partitionBy(col("token"))
    d.select(explode(array_distinct(tokens)).as("token"), col("doc_id"))
      .withColumn("seg", expr(s"doc_id div $segWidth"))
      .groupBy(col("token"), col("seg"))
      .agg(count(lit(1)).as("seg_df"),
        concat_ws(",", sort_array(collect_list(col("doc_id")))).as("postings"))
      .withColumn("df", sum(col("seg_df")).over(wTok))
      .where(col("df") >= minDf)
      .select(col("token"), col("seg"), col("df"), col("seg_df"), col("postings"))
  }

  private val x30 = GQuery(
    "x30_inverted_index", "ext-text retrieval-index",
    (s, dir) => invertedIndex(docs(s, dir), segWidth = 64L, minDf = 5L)
      .orderBy("token", "seg"),
    Some("""WITH tok AS (SELECT doc_id,
                           unnest(list_distinct(string_split(text, ' '))) AS token
                         FROM documents),
            seg AS (
              SELECT token, doc_id // 64 AS seg, COUNT(*) AS seg_df,
                array_to_string(list_sort(list(doc_id)), ',') AS postings
              FROM tok GROUP BY 1, 2)
            SELECT token, seg, df, seg_df, postings FROM (
              SELECT token, seg, seg_df, postings,
                CAST(SUM(seg_df) OVER (PARTITION BY token) AS BIGINT) AS df
              FROM seg)
            WHERE df >= 5 ORDER BY token, seg"""))

  // The full training-prep composite — what this library exists for, as ONE
  // query: exact-dedup + quality gate (Dedup.cleanCorpus, = x19) ∘
  // repetition filter (x23's stats) ∘ benchmark exclusion + decontamination
  // (x24's hits; benchmark docs themselves leave the corpus) ∘ token-window
  // chunking (x25). Every stage is the SAME code its standalone query runs,
  // so the composite cannot drift from the verified parts.
  //
  // Scale shape: all flag tables carry ids only (the verdict join shuffles
  // longs); document text moves exactly once, into the final
  // survivors-join before the narrow chunk explode — the one unavoidable
  // text movement of multi-signal selection, and the pass that would write
  // the training corpus anyway (CorpusMain's role).
  private val x31 = GQuery(
    "x31_training_prep", "ext-text ext-dedup pipeline-composite",
    (s, dir) => {
      // ONE fan-out feeds every stage's scan (round 15, Par scaladoc);
      // the identical exchanges dedup via ReuseExchange, so the corpus
      // still moves once per distinct consumer shape
      val d = Par.fanOutScan(docs(s, dir), "doc_id")
      val keepIds = Dedup.cleanCorpus(d).select(col("doc_id"))
        .join(repetitionStats(d).where(col("keep")).select("doc_id"), "doc_id")
        .where(col("doc_id") >= BenchBound)
        .join(contaminationHits(d).select("doc_id"), Seq("doc_id"), "left_anti")
      val survivors = d.join(keepIds, "doc_id")
      chunked(survivors, passthrough = Seq("lang"))
        .select(col("doc_id"), col("lang"), col("chunk_idx"), col("chunk"),
          col("n_chunk_tokens"))
        .orderBy("doc_id", "chunk_idx")
    },
    Some("""WITH k AS (
              SELECT *, MIN(doc_id) OVER (PARTITION BY text) AS keeper,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / len(string_split(text, ' ')) AS uniq_ratio
              FROM documents),
            clean AS (
              SELECT doc_id, text, lang FROM k
              WHERE doc_id = keeper AND n_tokens >= 20 AND uniq_ratio >= 0.3),
            w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            tok AS (SELECT doc_id, unnest(w) AS token FROM w),
            tf AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
            top AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_tok FROM tf GROUP BY 1),
            bg AS (SELECT doc_id, CAST(len(w) - 1 AS BIGINT) AS n_bigrams,
                    CAST(len(list_distinct(list_transform(range(1, len(w)),
                      i -> array_to_string(w[i:i+1], ' ')))) AS BIGINT) AS n_uniq_bigrams
                   FROM w),
            rep AS (
              SELECT t.doc_id FROM top t JOIN bg USING (doc_id)
              WHERE CAST(top_c AS DOUBLE) / n_tok <= 0.2
                AND CASE WHEN n_bigrams >= 1
                         THEN 1.0 - CAST(n_uniq_bigrams AS DOUBLE) / n_bigrams
                         ELSE 0.0 END <= 0.5),
            sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(w) - 5, 1) + 1),
                     i -> array_to_string(w[i:i+5], ' ')))) AS shingle FROM w),
            bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 50),
            contaminated AS (
              SELECT DISTINCT doc_id FROM sh JOIN bench USING (shingle) WHERE doc_id >= 50),
            survivors AS (
              SELECT c.doc_id, c.text, c.lang FROM clean c
              JOIN rep USING (doc_id)
              WHERE c.doc_id >= 50 AND c.doc_id NOT IN (SELECT doc_id FROM contaminated)),
            sw AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM survivors),
            ch AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(w) + 1, 24),
                     s -> struct_pack(ci := (s - 1) // 24, ch := array_to_string(w[s:s+31], ' ')))) AS u
                   FROM sw)
            SELECT doc_id, lang, CAST(u.ci AS BIGINT) AS chunk_idx, u.ch AS chunk,
              CAST(len(string_split(u.ch, ' ')) AS BIGINT) AS n_chunk_tokens
            FROM ch ORDER BY doc_id, chunk_idx"""))

  /** Chunked-carry sequence packing: assign documents to fixed-token-budget
    * training bins (2048 tokens) by contiguous cumulative fill, per
    * language — the batch assembly step between chunking (x25) and the
    * trainer. bin = floor of the pre-doc cumulative token count / budget: a
    * doc starts a new bin exactly when the running fill crosses the budget,
    * giving deterministic contiguous packing (the streaming-friendly form;
    * bin-packing-optimal packing is NP-hard and order-destroying).
    *
    * Scale shape — the naive form is ONE window per language, which
    * serializes a 90 %-English corpus onto a single core exactly when it
    * matters. This form is the chunked carry:
    *   1. range-bucket within language by `doc_id div bucketWidth` (bucket
    *      order = doc_id order, so per-(lang,bucket) fills concatenate to
    *      the per-lang fill);
    *   2. per-bucket token totals — |langs|·|buckets| rows, corpus-size
    *      independent;
    *   3. exclusive prefix sum of bucket totals per lang (a window over the
    *      TINY totals table) = each bucket's starting offset, broadcast
    *      back;
    *   4. the cumulative fill runs as a window partitioned by
    *      (lang, bucket) — a giant stratum fills in |buckets| parallel
    *      tasks — plus the bucket's carry offset.
    * Result is row-identical to the single-window form (asserted in
    * SequencePackingSpec); the big exchange still carries only
    * (doc_id, lang, n_tokens).
    *
    * Returned UNORDERED (partitioning = the fill windows') so the spec can
    * observe fill parallelism with spark_partition_id(); x33 adds the
    * deterministic orderBy.
    */
  def packedBins(d: DataFrame, bucketWidth: Long, budget: Long = 2048L): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val base = d.select(col("doc_id"), col("lang"),
        size(tokens).cast("long").as("n_tokens"))
      .withColumn("bucket", expr(s"doc_id div $bucketWidth"))
    val wOff = W.partitionBy(col("lang")).orderBy(col("bucket"))
      .rowsBetween(W.unboundedPreceding, -1)
    val offsets = base.groupBy(col("lang"), col("bucket"))
      .agg(sum(col("n_tokens")).as("bucket_tokens"))
      .withColumn("offset",
        coalesce(sum(col("bucket_tokens")).over(wOff), lit(0L)))
      .select(col("lang"), col("bucket"), col("offset"))
    val wFill = W.partitionBy(col("lang"), col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    base.join(broadcast(offsets), Seq("lang", "bucket"))
      .withColumn("cum_before",
        col("offset") + coalesce(sum(col("n_tokens")).over(wFill), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        floor(col("cum_before") / budget.toDouble).as("bin"))
  }

  private val x33 = GQuery(
    "x33_sequence_packing", "ext-text sequence-packing",
    (s, dir) => packedBins(docs(s, dir), bucketWidth = 256L)
      .orderBy("lang", "doc_id"),
    Some("""SELECT doc_id, lang,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
              CAST(floor(COALESCE(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
                PARTITION BY lang ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0) AS BIGINT) AS bin
            FROM documents
            ORDER BY lang, doc_id"""))

  // Classifier evaluation: the confusion matrix of x13's language-ID guess
  // against the gold `lang` label — the accept/reject evidence a pipeline
  // reviews before trusting a heuristic filter at corpus scale. Reuses
  // langVotes verbatim, so the evaluated classifier IS the deployed one.
  // frac_of_lang = n / gold-class total (IEEE-exact division); matrix is
  // |langs| x |guesses| small, aggregation is one grouped count plus a
  // per-class window over the tiny matrix.
  private val x53 = GQuery(
    "x53_langid_confusion", "ext-text classifier-eval",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      langVotes(docs(s, dir))
        .groupBy(col("lang"), col("lang_guess"))
        .agg(count(lit(1)).as("n"))
        .withColumn("frac_of_lang",
          col("n").cast("double") / sum(col("n")).over(w))
        .orderBy("lang", "lang_guess")
    },
    Some("""WITH v AS (
              SELECT doc_id, lang,
                CAST(len(list_filter(string_split(text, ' '), t -> t IN ('data', 'row', 'column', 'table'))) AS BIGINT) AS v_data,
                CAST(len(list_filter(string_split(text, ' '), t -> t IN ('query', 'filter', 'join', 'sort'))) AS BIGINT) AS v_query,
                CAST(len(list_filter(string_split(text, ' '), t -> t IN ('stream', 'window', 'batch', 'spark'))) AS BIGINT) AS v_stream
              FROM documents),
            g AS (
              SELECT lang,
                CASE WHEN v_data > v_query AND v_data > v_stream THEN 'tabular'
                     WHEN v_query > v_data AND v_query > v_stream THEN 'relational'
                     WHEN v_stream > v_data AND v_stream > v_query THEN 'streaming'
                     ELSE 'und' END AS lang_guess
              FROM v),
            m AS (SELECT lang, lang_guess, COUNT(*) AS n FROM g GROUP BY 1, 2)
            SELECT lang, lang_guess, n,
              CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY lang) AS frac_of_lang
            FROM m ORDER BY lang, lang_guess"""))

  // Sequence-length histogram: documents per power-of-2 token-length bucket
  // per language — the distribution a packing stage (x33) and a
  // context-window budget decision are sized against. Bucket = the highest
  // power of two <= n, computed as 1 << (binary-digit-count - 1): pure
  // integer arithmetic both engines evaluate identically (floor(log2(n))
  // via doubles rounds differently across libms at exact powers). One
  // narrow projection + one tiny grouped count.
  private val x54 = GQuery(
    "x54_length_histogram", "ext-text length-distribution",
    (s, dir) =>
      docs(s, dir)
        .select(col("lang"), size(tokens).cast("long").as("n"))
        .withColumn("bucket_lo",
          expr("shiftleft(1L, cast(length(bin(n)) as int) - 1)"))
        .groupBy(col("lang"), col("bucket_lo"))
        .agg(count(lit(1)).as("n_docs"), min(col("n")).as("min_len"),
          max(col("n")).as("max_len"))
        .orderBy("lang", "bucket_lo"),
    Some("""WITH d AS (SELECT lang,
                         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                       FROM documents)
            SELECT lang,
              CAST(1 AS BIGINT) << (length(bin(n)) - 1) AS bucket_lo,
              COUNT(*) AS n_docs, MIN(n) AS min_len, MAX(n) AS max_len
            FROM d GROUP BY 1, 2 ORDER BY lang, bucket_lo"""))

  // The BPE rows' shared stages: word occurrences per document, the
  // word-count vocabulary, and the per-document symbol rollup. x56's fold
  // applies the merges per occurrence; x61/x63 segment the vocab once and
  // join back (segmentedRollup); BpeSpec compares the two paths.
  private def bpeWords(s: SparkSession, dir: String): DataFrame = docs(s, dir)
    .select(col("doc_id"), explode(tokens).as("word"))
    .where(length(col("word")) >= 1)

  private def wordCounts(words: DataFrame): DataFrame =
    words.groupBy(col("word")).agg(count(lit(1)).as("n"))

  private def bpeRollup(perWord: DataFrame): DataFrame = perWord
    .groupBy(col("doc_id"))
    .agg(count(lit(1)).as("n_words"),
      sum(col("n_chars")).as("n_char_syms"),
      sum(col("n_syms")).as("n_bpe_syms"))
    .orderBy("doc_id")

  private def segmentedRollup(words: DataFrame, vocab: DataFrame,
      merges: Seq[graft.operators.Bpe.BpeMerge]): DataFrame =
    bpeRollup(words.join(bpeSegLengths(vocab, merges), "word"))

  /** (word, n_chars, n_syms) of each vocab word under the merge table. */
  private def bpeSegLengths(vocab: DataFrame,
      merges: Seq[graft.operators.Bpe.BpeMerge]): DataFrame =
    graft.operators.Bpe.segmentVocab(vocab, "word", merges)
      .select(col("word"), length(col("word")).cast("long").as("n_chars"),
        size(col("syms")).cast("long").as("n_syms"))

  // BPE vocabulary learning + application, end to end: learn 10 merges from
  // the corpus word-count table (graft.operators.Bpe — the CC-style
  // iterative pattern), then tokenize the corpus with the learned table and
  // report per-document compression (char symbols before vs BPE symbols
  // after). The apply step uses the SAME BpeMergeStep kernel the trainer
  // used, folded in rank order, so tokenization cannot drift from training.
  //
  // Scale shape: training works on the DISTINCT-WORD table (vocab-bounded,
  // the classic BPE formulation). Application folds the merge table — N
  // tiny (left, right) literals, NOT the vocab — over each word occurrence
  // in place: a pure narrow scan with zero joins, so document text never
  // shuffles and the only exchange is the partial-aggregated (doc_id,
  // counts) rollup. At 10 merges the fold is ~free and this shuffle-free
  // plan wins; a 30k-merge production table instead takes x61's path
  // (segment the distinct-word vocab once through the single BpeApplyAll
  // kernel, join back by word). Iterative + hash-free but
  // DRIVER-coordinated merges: gated by BpeSpec (exact agreement with a
  // reference implementation), not a SQL oracle.
  private val x56 = GQuery(
    "x56_bpe_vocab", "ext-text vocab-trainer custom-operator iterative",
    (s, dir) => {
      import graft.operators.Bpe
      val words = bpeWords(s, dir)
      val vocab = wordCounts(words)
      val merges = Bpe.learn(vocab, nMerges = 10)
      bpeRollup(words
        .select(col("doc_id"), length(col("word")).cast("long").as("n_chars"),
          size(Bpe.applyMerges(Bpe.charSymbols(col("word")), merges))
            .cast("long").as("n_syms")))
    },
    None) // iterative driver-coordinated trainer: gated by BpeSpec

  // BPE tokenization by VOCAB SEGMENTATION — the production-scale apply
  // path for a large merge table, producing output ROW-IDENTICAL to x56
  // (BpeSpec pins the equality; the x46/x58 pattern — two physical paths,
  // one result). Where x56 folds one kernel node per merge over every word
  // OCCURRENCE, this path (a) segments each DISTINCT word exactly once
  // through the single BpeApplyAll kernel — plan size and analysis time
  // constant in the merge count, per-word cost independent of table size —
  // and (b) joins the (word → n_syms) segmentation back to occurrences.
  // The join is vocab × corpus on `word`: broadcast at small vocab, sort-
  // merge at 100 TB (where the 30k-deep fold is not runnable at all); the
  // per-occurrence work becomes a join probe instead of a re-segmentation,
  // which is why every production tokenizer deploys this shape.
  private val x61 = GQuery(
    "x61_bpe_tokenize_scale", "ext-text vocab-apply scale-path",
    (s, dir) => {
      import graft.operators.Bpe
      val words = bpeWords(s, dir)
      val vocab = wordCounts(words)
      segmentedRollup(words, vocab, Bpe.learn(vocab, nMerges = 10))
    },
    None) // gated by BpeSpec: row-identical to x56 + bounded-plan pin

  // BPE tokenization from a STORED merge table — the SERVING shape x61's
  // scaladoc promised: the vocabulary is a persisted artifact (trained once
  // at ingest via graft.operators.Bpe.writeMerges; built here on first
  // touch), and the tokenization job LOADS it — zero driver-coordinated
  // merge rounds, no trainer shuffles — then runs x61's exact
  // vocab-segmentation apply. Output is row-identical to x61 and x56
  // (StoredIndexSpec pins the equality and that merge loading is a single
  // read job, not a training loop). This is where the ~60 % of x61's wall
  // time that was inline Bpe.learn goes away: the serving path's cost is
  // the corpus scan + vocab segmentation + join, nothing else.
  private val x63 = GQuery(
    "x63_bpe_tokenize_stored", "ext-text vocab-apply stored-artifact serving-path",
    (s, dir) => {
      import graft.operators.Bpe
      val words = bpeWords(s, dir)
      val store = graft.StoredArtifacts.dir(dir, "bpe_merges_v1")
      if (!graft.StoredArtifacts.ready(store)) {
        Bpe.writeMerges(s, Bpe.learn(wordCounts(words), nMerges = 10), store)
      }
      segmentedRollup(words, wordCounts(words), Bpe.readMerges(s, store))
    },
    None) // gated by StoredIndexSpec: row-identical to x61, read-only serving path

  // Trainer-ready id encoding — the artifact a training run actually
  // consumes: every document as an array<int> of BPE ids under the stored
  // tokenizer (x63's merge table + a stored symbol→id vocabulary: base
  // characters in code-point order, then one id per merge rank — the
  // standard numbering; ids are BOUNDED by nChars + nMerges, with gaps
  // where duplicate merge surfaces dedupe to the min id, so an embedding
  // table sizes to nChars + maxRank + 1). Unseen-at-training characters
  // encode to -1 (explicit OOV, never a silent drop; zero here since the
  // vocab derives from this corpus — the OOV path is BpeSpec-pinned).
  // Scale shape: encode cost is vocab-bounded (distinct words segment
  // once; symbol→id is one broadcast join), occurrences join back by
  // word, and per-doc reassembly exchanges (doc_id, word-position,
  // id-array) — text never shuffles.
  //
  // The REGISTERED output carries the id sequence as a scalar digest
  // (xxhash64 of the comma-joined ids) rather than the raw array: the
  // driver's canonicalizer sorts result rows by every column and cannot
  // sort raw array cells (r6 verdict — the only registry query emitting
  // one crashed its row). The raw array<int> form stays available as
  // `Bpe.encodeVocabIds`, pinned by BpeSpec's decode round-trip; the
  // digest is equality-faithful to it (same ids ⇔ same digest at
  // fixture scale).
  /** (doc_id, ids array<int>): every document as a dense BPE id sequence
    * under the STORED tokenizer artifacts (merge table + symbol→id vocab,
    * both built on first touch) — the trainer-input construction shared
    * by x69 (per-doc digest report) and x85 (packed training sequences).
    */
  private def bpeDocIds(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bpe
    val words = docs(s, dir)
      .select(col("doc_id"), posexplode(tokens))
      .select(col("doc_id"), col("pos").as("wpos"), col("col").as("word"))
      .where(length(col("word")) >= 1)
    val mergeStore = graft.StoredArtifacts.dir(dir, "bpe_merges_v1")
    if (!graft.StoredArtifacts.ready(mergeStore)) {
      val vocab = wordCounts(words)
      Bpe.writeMerges(s, Bpe.learn(vocab, nMerges = 10), mergeStore)
    }
    val merges = Bpe.readMerges(s, mergeStore)
    val idStore = graft.StoredArtifacts.dir(dir, "bpe_ids_v1")
    if (!graft.StoredArtifacts.ready(idStore)) {
      val chars = words
        .select(explode(Bpe.charSymbols(col("word"))).as("c"))
        .distinct().collect().map(_.getString(0)).toSeq
      import s.implicits._
      Bpe.idVocab(chars, merges).toDF("symbol", "id")
        .coalesce(1).write.mode("overwrite").parquet(idStore)
    }
    val ids = s.read.parquet(idStore)
    val wordIds = Bpe.encodeVocabIds(words.select("word").distinct(), "word", merges, ids)
    words.join(wordIds, "word")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("wpos"), col("ids")))).as("wids"))
      .select(col("doc_id"), expr("flatten(transform(wids, x -> x.ids))").as("ids"))
  }

  private val x69 = GQuery(
    "x69_bpe_encode_ids", "ext-text vocab-apply trainer-artifact stored-artifact",
    (s, dir) => bpeDocIds(s, dir)
      .select(col("doc_id"),
        size(col("ids")).cast("long").as("n_ids"),
        expr("size(filter(ids, x -> x = -1))").cast("long").as("n_oov"),
        xxhash64(array_join(col("ids").cast("array<string>"), ","))
          .as("ids_digest"))
      .orderBy("doc_id"),
    None) // BPE-derived ids: gated by BpeSpec round-trip + OOV pins

  /** GPT-style training-batch materialization: concatenate documents (in
    * a deterministic shuffled order) and cut the token stream into
    * fixed-length sequences — the "document packing" step between
    * tokenization and the training loop. Packing runs WITHIN shards
    * (x36's md5 shard key), so each shard is an independent token stream
    * and the expensive ordering is 16^w parallel partition-local sorts —
    * the per-training-worker layout, not one global cumsum (a
    * no-partition window would serialize the corpus through a single
    * task). Per sequence: token count (= seqLen except each shard's
    * tail), distinct documents touched, document STARTS (the loss-mask
    * reset points a trainer needs for attention/loss boundaries), and a
    * digest of the exact id stream for round-trip gates.
    *
    * Scale shape: one window cumsum per shard over doc-sized rows, one
    * posexplode to token granularity (the trainer materializes every
    * token anyway — this is the op whose output IS that materialization),
    * one (shard, seq) aggregation. Nothing global; shard width is the
    * parallelism knob.
    */
  def packSequences(ids: DataFrame, shardHexChars: Int, seqLen: Int,
      md5Digest: Boolean = false): DataFrame = {
    require(shardHexChars >= 1 && shardHexChars <= 8,
      s"shardHexChars must be in [1,8]: $shardHexChars")
    require(seqLen >= 2, s"seqLen must be >= 2: $seqLen")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    val withOff = ids
      .withColumn("h", md5(concat(col("doc_id"), lit(":42"))))
      .withColumn("shard", substring(col("h"), 1, shardHexChars))
      .withColumn("n", size(col("ids")).cast("long"))
      .withColumn("start", coalesce(
        sum(col("n")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
    withOff
      .select(col("shard"), col("doc_id"), col("start"),
        posexplode(col("ids")).as(Seq("pos", "id")))
      .withColumn("g", col("start") + col("pos"))
      .withColumn("seq_id", floor(col("g") / seqLen))
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(when(col("pos") === 0, 1L).otherwise(0L)).as("n_starts"),
        {
          // md5Digest (the oracled x303 twin): same joined id stream,
          // digested with md5 — the one hash both engines compute
          // identically — instead of xxhash64 (JVM-native, no DuckDB
          // counterpart). x85 keeps xxhash64: fixed-width, cheaper, and
          // its BPE ids are spec-gated anyway.
          val joined = array_join(
            transform(array_sort(collect_list(struct(col("g"), col("id")))),
              x => x.getField("id").cast("string")), ",")
          (if (md5Digest) md5(joined) else xxhash64(joined)).as("ids_digest")
        })
      .orderBy("shard", "seq_id")
  }

  // Packed training sequences — the last hop of the tokenizer pipeline:
  // x69's per-doc id arrays (stored-vocab encoding) concatenated within
  // deterministic shards and cut at 512-token boundaries, the exact rows
  // a pretraining loader consumes. PackedSequencesSpec gates the
  // round-trip (unpacked stream == concatenated doc ids), the
  // all-but-tail-full invariant, and boundary accounting.
  private val x85 = GQuery(
    "x85_packed_sequences",
    "ext-text sequence-packing trainer-artifact stored-artifact",
    (s, dir) => packSequences(bpeDocIds(s, dir), shardHexChars = 1, seqLen = 512),
    None) // BPE-derived ids: gated by PackedSequencesSpec

  // Model-based quality filtering — the classifier stage that sits AFTER
  // the x12-style heuristics in a production pipeline (CCNet / DCLM /
  // FineWeb-Edu run exactly this shape): hashed-feature logistic
  // regression trained ON the corpus, scoring held-out documents. The
  // fixture corpus carries no quality labels, so the query PLANTS the
  // signal (x34's plant → detect discipline): every doc_id ≡ 0 (mod 3)
  // gets a low-quality marker phrase appended and label 1; the model
  // trains on even doc_ids and scores the odd holdout. The training
  // loop's scale shape (literal-weight kernel forward, dim-bounded
  // gradient exchange) is QualityClassifier's scaladoc; the planted
  // holdout separation is QualityClassifierSpec's gate.
  private val x80 = GQuery(
    "x80_quality_classifier", "ext-text quality-model classifier-training",
    (s, dir) => {
      val dim = 4096 // vocab-sized so the 4 planted markers keep clean buckets
      val planted = docs(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(" spamword junkword lowqual badtext")))
          .otherwise(col("text")).as("text"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit(1)).otherwise(lit(0))
          .as("label"))
      // NOTE (round 15): a Par.fanOutScan on `planted` was measured and
      // REVERTED — the 32-partition feats checkpoint made each of the 15
      // training iterations a 32-task job over ~1 MB, and the loop
      // overhead dwarfed the featurize win (3.11 -> 5.70 s median).
      val feats = graft.operators.QualityClassifier.featurize(planted, dim)
        .localCheckpoint(true) // featurize once, reuse across split + loop
      val model = graft.operators.QualityClassifier.train(
        feats.where(pmod(col("doc_id"), lit(2)) === 0), dim,
        iters = 15, lr = 1.0)
      graft.operators.QualityClassifier.score(
          feats.where(pmod(col("doc_id"), lit(2)) === 1), model)
        .select(col("doc_id"), col("label"), col("pred"))
        .orderBy("doc_id")
    },
    None) // iterative float training: gated by QualityClassifierSpec

  /** DSIR-style importance selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score each RAW
    * document's word-bigram occurrences against a TARGET corpus's bigram
    * distribution and keep the docs whose target affinity beats the
    * corpus average — the hashed-n-gram selection stage every modern
    * pretraining pipeline runs between crawl and trainer (DSIR's target
    * is Wikipedia+books; here the `isTarget` predicate marks the curated
    * slice). DSIR proper ranks by the log-likelihood ratio
    * Σ log p_t(b)/p_r(b); the REGISTERED decision uses the exact-integer
    * affinity ratio test `sum_t · total_r > sum_r · total_t` (a doc is
    * kept when its average target affinity beats the raw-corpus
    * average), which is deterministic integer arithmetic end to end —
    * DuckDB computes the identical decision, so selection is
    * hash-verifiable, not just spot-checked.
    *
    * Scale shape: the bigram model is a corpus-vocabulary-sized table
    * that STAYS distributed — the scoring join shuffles on the bigram
    * key (at 100 TB: xxhash64 the bigram to a long first so the
    * exchange carries 8-byte keys; counts are unchanged), the per-doc
    * aggregation shuffles doc-sized rows, and the two corpus totals ride
    * one broadcast scalar crossJoin (q11's pattern). Nothing is
    * collected; no floats anywhere. The cross-multiplied longs bound
    * per-doc affinity × corpus total — switch the comparison to
    * decimal(38,0) past ~10^18, noted here because silent long wrap is
    * the one scale hazard of the integer form.
    */
  def importanceSelect(d: DataFrame, isTarget: Column): DataFrame = {
    val w = d.select(col("doc_id"), isTarget.as("is_target"),
      split(col("text"), " ").as("w"))
    val bg = w.where(size(col("w")) >= 2)
      .select(col("doc_id"), col("is_target"),
        explode(expr(
          "transform(sequence(0, size(w)-2), i -> concat(w[i], ' ', w[i+1]))"))
          .as("bigram"))
    val model = bg.groupBy("bigram").agg(
      sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"),
      sum(when(!col("is_target"), 1L).otherwise(0L)).as("cr"))
    val totals = model.agg(sum("ct").as("total_t"), sum("cr").as("total_r"))
    val sc = bg.where(!col("is_target"))
      .join(model, "bigram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum("ct").as("sum_t"), sum("cr").as("sum_r"))
    d.where(!isTarget).select(col("doc_id"))
      .join(sc, Seq("doc_id"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_t"), lit(0L)).as("sum_t"),
        coalesce(col("sum_r"), lit(0L)).as("sum_r"),
        coalesce(col("sum_t") * col("total_r") > col("sum_r") * col("total_t"),
          lit(false)).as("selected"))
      .orderBy("doc_id")
  }

  // Importance-ratio data selection with src0 as the curated target
  // slice: every other source's documents scored by bigram affinity,
  // kept when they look more target-like than the raw average. The
  // whole decision — counts, totals, cross-multiplied comparison — is
  // integer, so the oracle hash-verifies the SELECTION, not a proxy.
  private val x89 = GQuery(
    "x89_importance_select", "ext-text data-selection",
    (s, dir) => importanceSelect(docs(s, dir), col("source") === "src0"),
    Some("""WITH w AS (
              SELECT doc_id, source = 'src0' AS is_target,
                string_split(text, ' ') AS w
              FROM documents),
            bg AS (
              SELECT doc_id, is_target,
                unnest(list_transform(range(1, len(w)),
                  i -> w[i] || ' ' || w[i+1])) AS bigram
              FROM w WHERE len(w) >= 2),
            model AS (
              SELECT bigram,
                CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct,
                CAST(SUM(CASE WHEN NOT is_target THEN 1 ELSE 0 END) AS BIGINT) AS cr
              FROM bg GROUP BY 1),
            tot AS (
              SELECT CAST(SUM(ct) AS BIGINT) AS total_t,
                CAST(SUM(cr) AS BIGINT) AS total_r
              FROM model),
            sc AS (
              SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                CAST(SUM(ct) AS BIGINT) AS sum_t,
                CAST(SUM(cr) AS BIGINT) AS sum_r
              FROM bg JOIN model USING (bigram)
              WHERE NOT is_target GROUP BY 1)
            SELECT d.doc_id,
              coalesce(sc.n_bigrams, 0) AS n_bigrams,
              coalesce(sc.sum_t, 0) AS sum_t,
              coalesce(sc.sum_r, 0) AS sum_r,
              coalesce(sc.sum_t * t.total_r > sc.sum_r * t.total_t, FALSE)
                AS selected
            FROM documents d
            LEFT JOIN sc ON d.doc_id = sc.doc_id
            CROSS JOIN tot t
            WHERE d.source <> 'src0'
            ORDER BY d.doc_id"""))

  /** Tokenizer fertility by language — the standard vocabulary-fit
    * evaluation (how many BPE symbols per whitespace word each language
    * pays under a given merge table; a vocab trained on English typically
    * charges other languages 1.5-3× the symbols, which is why multilingual
    * trainers monitor exactly this table before fixing a vocabulary).
    * Per language: word/symbol/char totals, `fertility_milli` =
    * 1000·symbols div words, `compression_milli` = 1000·symbols div chars
    * — integer thousandths, same discipline as every other calibrated
    * score in the registry.
    *
    * Scale shape: x61's vocab-segmentation apply (each DISTINCT word
    * segments once through the one BpeApplyAll kernel, occurrences join
    * back by word — broadcast at small vocab, sort-merge at 100 TB), then
    * a languages-sized rollup. The registered form serves from the STORED
    * merge table (x63's artifact — no trainer rounds); gated by BpeSpec
    * (hand-computed fertilities on a planted two-language corpus where
    * the merge table fits one language and not the other).
    */
  def tokenizerFertility(d: DataFrame,
      merges: Seq[graft.operators.Bpe.BpeMerge]): DataFrame = {
    val words = fertilityWords(d)
    fertilityRollup(words, bpeSegLengths(wordCounts(words), merges))
  }

  private def fertilityWords(d: DataFrame): DataFrame =
    d.select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) >= 1)

  /** Shared fertility aggregation — ONE definition so every tokenizer
    * (BPE x101, unigram x113) is measured through identical arithmetic
    * and the numbers are comparable across vocabularies.
    */
  private def fertilityRollup(words: DataFrame, seg: DataFrame): DataFrame =
    words.join(seg, "word")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_syms")).as("n_syms"),
        sum(col("n_chars")).as("n_chars"))
      .withColumn("fertility_milli", expr("(1000 * n_syms) div n_words"))
      .withColumn("compression_milli", expr("(1000 * n_syms) div n_chars"))
      .orderBy("lang")

  /** [[tokenizerFertility]] for a fitted unigram-LM vocabulary — x101's
    * harness pointed at the OTHER tokenizer family, so the two report
    * comparable rows from the same rollup.
    */
  def unigramFertility(d: DataFrame,
      model: graft.operators.UnigramLm.UnigramVocab): DataFrame = {
    import graft.operators.UnigramLm
    val words = fertilityWords(d)
    val vocab = wordCounts(words)
    val seg = UnigramLm.segmentVocab(vocab, "word", model)
      .select(col("word"), length(col("word")).cast("long").as("n_chars"),
        size(col("pieces")).cast("long").as("n_syms"))
    fertilityRollup(words, seg)
  }

  private val x101 = GQuery(
    "x101_tokenizer_fertility",
    "ext-text vocab-eval stored-artifact serving-path",
    (s, dir) => {
      import graft.operators.Bpe
      val store = graft.StoredArtifacts.dir(dir, "bpe_merges_v1")
      if (!graft.StoredArtifacts.ready(store)) {
        val vocab = docs(s, dir)
          .select(explode(tokens).as("word"))
          .where(length(col("word")) >= 1)
          .groupBy(col("word")).agg(count(lit(1)).as("n"))
        Bpe.writeMerges(s, Bpe.learn(vocab, nMerges = 10), store)
      }
      tokenizerFertility(docs(s, dir), Bpe.readMerges(s, store))
    },
    None) // BPE-derived segmentation: gated by BpeSpec fertility pins

  /** C4/CCNet-style text cleanup — the normalization every pipeline runs
    * BEFORE fingerprinting, because a decomposed `é`, a zero-width space,
    * or a stray control byte makes byte-identical text hash differently
    * and silently splits duplicate groups: Unicode NFC (the custom
    * [[graft.functions.NfcNormalize]] kernel — Spark SQL has no
    * normalizer; DuckDB's `nfc_normalize` makes the oracle a genuine
    * cross-engine check of the kernel), then strip control characters
    * (C0 except tab/newline, DEL) and zero-width/BOM code points, then
    * collapse whitespace runs and trim — x02's proven regex discipline.
    * x110 outputs the cleaned fingerprint and before/after lengths, so
    * the op audits itself (changed = any byte moved).
    *
    * Scale shape: pure narrow projection — one scan, no shuffle but the
    * output sort; the kernel short-circuits already-NFC (ASCII) rows
    * without allocation.
    */
  private def cleanedText: Column = {
    val nfc = HashFunctions.nfcNormalize(col("text"))
    val stripped = regexp_replace(
      regexp_replace(nfc, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
      "[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]", "")
    trim(regexp_replace(stripped, "\\s+", " "))
  }

  private val x110 = GQuery(
    "x110_text_normalize", "ext-text cleanup custom-operator",
    (s, dir) => docs(s, dir)
      .select(col("doc_id"), cleanedText.as("clean"), col("text"))
      .select(col("doc_id"), md5(col("clean")).as("clean_md5"),
        length(col("clean")).cast("long").as("n_clean_chars"),
        length(col("text")).cast("long").as("n_raw_chars"),
        (md5(col("text")) =!= md5(col("clean"))).as("changed"))
      .orderBy("doc_id"),
    Some("""WITH c AS (
              SELECT doc_id, text,
                trim(regexp_replace(
                  regexp_replace(
                    regexp_replace(nfc_normalize(text),
                      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
                    '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g'),
                  '\s+', ' ', 'g')) AS clean
              FROM documents)
            SELECT doc_id, md5(clean) AS clean_md5,
              CAST(len(clean) AS BIGINT) AS n_clean_chars,
              CAST(len(text) AS BIGINT) AS n_raw_chars,
              md5(text) <> md5(clean) AS changed
            FROM c ORDER BY doc_id"""))

  // Unigram-LM tokenizer (graft.operators.UnigramLm) measured through
  // x101's fertility harness — the two production tokenizer families
  // reporting comparable rows from the SAME rollup arithmetic. The fitted
  // vocabulary is a stored artifact (x101's first-touch discipline);
  // every re-invocation is segment-and-measure only. UnigramSpec gates
  // exact agreement with a driver-side reference EM and the fertility
  // comparison itself.
  private val x113 = GQuery(
    "x113_unigram_fertility",
    "ext-text vocab-trainer vocab-eval stored-artifact custom-operator iterative",
    (s, dir) => {
      import graft.operators.UnigramLm
      val store = graft.StoredArtifacts.dir(dir, "unigram_vocab_v1")
      if (!graft.StoredArtifacts.ready(store)) {
        val vocab = docs(s, dir)
          .select(explode(tokens).as("word"))
          .where(length(col("word")) >= 1)
          .groupBy(col("word")).agg(count(lit(1)).as("n"))
        val (model, _) = UnigramLm.train(vocab, vocabSize = 300,
          emIters = 3, maxPieceLen = 6, seedSize = 1000, minCount = 2L)
        UnigramLm.writeVocab(s, model, store)
      }
      unigramFertility(docs(s, dir), UnigramLm.readVocab(s, store))
    },
    None) // iterative driver-coordinated trainer: gated by UnigramSpec

  /** [[tokenizerFertility]] for a WordPiece two-part vocabulary — the
    * THIRD family through the same rollup, so BPE (x101), unigram (x113)
    * and WordPiece (x230) report directly comparable rows.
    */
  def wordPieceFertility(d: DataFrame,
      vocab: graft.operators.WordPiece.WpVocab): DataFrame = {
    import graft.operators.WordPiece
    val words = fertilityWords(d)
    val wv = wordCounts(words)
    val seg = WordPiece.segmentVocab(wv, "word", vocab)
      .select(col("word"), length(col("word")).cast("long").as("n_chars"),
        size(col("pieces")).cast("long").as("n_syms"))
    fertilityRollup(words, seg)
  }

  // WordPiece (greedy longest-match, graft.operators.WordPiece) measured
  // through x101's fertility harness — the tokenizer triad complete, all
  // three families through identical rollup arithmetic. The two-part
  // vocabulary derives from the engine's own BPE inventory (first-touch
  // stored artifact); WordPieceSpec gates maximal-munch correctness,
  // round-trip, zero-UNK coverage, and the cross-family comparison.
  private val x230 = GQuery(
    "x230_wordpiece_fertility",
    "ext-text vocab-eval stored-artifact custom-expression",
    (s, dir) => {
      import graft.operators.{Bpe, WordPiece}
      val store = graft.StoredArtifacts.dir(dir, "wordpiece_vocab_v1")
      if (!graft.StoredArtifacts.ready(store)) {
        val vocab = docs(s, dir)
          .select(explode(tokens).as("word"))
          .where(length(col("word")) >= 1)
          .groupBy(col("word")).agg(count(lit(1)).as("n"))
        val bpeStore = graft.StoredArtifacts.dir(dir, "bpe_merges_v1")
        if (!graft.StoredArtifacts.ready(bpeStore))
          Bpe.writeMerges(s, Bpe.learn(vocab, nMerges = 10), bpeStore)
        WordPiece.writeVocab(s,
          WordPiece.fromBpe(vocab, Bpe.readMerges(s, bpeStore)), store)
      }
      wordPieceFertility(docs(s, dir), WordPiece.readVocab(s, store))
    },
    None) // greedy-kernel segmentation: gated by WordPieceSpec

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): corpus-level
    * keywords = the top-PageRank words of the adjacent-word co-occurrence
    * graph — the unsupervised keyword baseline production tagging
    * pipelines run before anything learned. Composition is the point:
    * the word graph is x99's bigram machinery (adjacent pairs, one
    * explode) collapsed to canonical undirected edges, and the ranking
    * is x124's INTEGER PageRank loop reused verbatim via
    * [[Graph.pagerankOnEdges]] — node-type-agnostic supersteps, so the
    * exact hash-verifiable arithmetic carries over to string nodes
    * unchanged. Four supersteps; top-50 by (rank, word).
    */
  def textrankKeywords(d: DataFrame, iters: Int, topK: Int): DataFrame = {
    val bg = d.select(split(col("text"), " ").as("w"))
      .select(posexplode(col("w")).as(Seq("i", "a")), col("w"))
      .where(col("i") < size(col("w")) - 1)
      .select(col("a"), expr("w[i + 1]").as("b"))
      .where(col("a") =!= col("b"))
    val edges = bg.select(least(col("a"), col("b")).as("pa"),
      greatest(col("a"), col("b")).as("pb")).distinct()
    Graph.pagerankOnEdges(edges, iters)
      .select(col("node").as("word"), col("rank").as("rank_micros"))
      .orderBy(col("rank_micros").desc, col("word"))
      .limit(topK)
  }

  private def textrankOracle(iters: Int): String = {
    val head =
      """WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
         bg AS (SELECT w[i] AS a, w[i + 1] AS b
                FROM d, unnest(range(1, len(w))) r(i)
                WHERE w[i] <> w[i + 1]),
         e0 AS MATERIALIZED (
           SELECT DISTINCT LEAST(a, b) AS pa, GREATEST(a, b) AS pb FROM bg),
         e AS MATERIALIZED (
           SELECT pa AS src, pb AS dst FROM e0
           UNION ALL SELECT pb AS src, pa AS dst FROM e0),
         deg AS MATERIALIZED (
           SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
         r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM deg)"""
    val steps = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
           SELECT e.dst AS node,
             150000 + (850 * CAST(SUM(r.rank // g.outdeg) AS BIGINT)) // 1000 AS rank
           FROM e JOIN r${i - 1} r ON e.src = r.node
                  JOIN deg g ON g.src = e.src
           GROUP BY 1)"""
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT node AS word, CAST(rank AS BIGINT) AS rank_micros FROM r$iters " +
      "ORDER BY rank_micros DESC, word LIMIT 50"
  }

  private val x138 = GQuery(
    "x138_textrank_keywords", "ext-text keyword-extraction textrank",
    (s, dir) => textrankKeywords(docs(s, dir), iters = 4, topK = 50),
    Some(textrankOracle(4)))

  // ------------------------------------------------------------------- x173
  // Vocabulary growth census (Heaps' law): cumulative distinct-token and
  // total-token counts as the corpus is consumed in doc_id order — the
  // curve that sizes a tokenizer vocabulary and predicts OOV decay as a
  // crawl grows (new-vocab rate per doc is its derivative). Exact and
  // integer end to end.
  //
  // Scale shape: the cumulative-distinct recurrence is rewritten as
  // "count tokens whose FIRST occurrence is ≤ this doc" — first_doc =
  // min(doc_id) per token is one token-keyed partial aggregation, the
  // per-doc new-token counts roll up from it, and the running sums are a
  // window over the DOC-DOMAIN table only. The token explosion is the
  // same single scan every Text operator pays; nothing sequential ever
  // touches token rows.
  private val x173 = GQuery(
    "x173_vocab_growth", "ext-text vocabulary-census heaps",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val firstDoc = toks.groupBy(col("tok"))
        .agg(min(col("doc_id")).as("first_doc"))
      val newPerDoc = firstDoc.groupBy(col("first_doc").as("doc_id"))
        .agg(count(lit(1)).as("new_tokens"))
      // per-doc totals need no explosion: size(split) is a narrow
      // projection, so only the first-occurrence branch pays the token
      // blow-up
      val perDoc = docs(s, dir)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val w = Window.orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perDoc.join(newPerDoc, Seq("doc_id"), "left")
        .na.fill(0L, Seq("new_tokens"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .withColumn("cum_vocab", sum(col("new_tokens")).over(w))
        .select(col("doc_id"), col("n_tokens"), col("new_tokens"),
          col("cum_tokens").cast("long"), col("cum_vocab").cast("long"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            fd AS (SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY tok),
            npd AS (SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS new_tokens
              FROM fd GROUP BY first_doc),
            pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
              FROM toks GROUP BY doc_id)
            SELECT pd.doc_id, pd.n_tokens,
              COALESCE(npd.new_tokens, 0) AS new_tokens,
              CAST(SUM(pd.n_tokens) OVER (ORDER BY pd.doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS cum_tokens,
              CAST(SUM(COALESCE(npd.new_tokens, 0)) OVER (ORDER BY pd.doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS cum_vocab
            FROM pd LEFT JOIN npd ON npd.doc_id = pd.doc_id
            ORDER BY pd.doc_id"""))

  // ------------------------------------------------------------------- x207
  // Positional phrase search — the retrieval capability the x30 posting
  // index cannot express (its postings are doc-grained, so "data processing"
  // and "processing data" are indistinguishable): per-document exact
  // occurrence counts and first hit position for a two-term phrase. The
  // phrase itself is data-derived for determinism — the corpus' most
  // frequent adjacent bigram, ties (count desc, t1, t2); the 1-row
  // collect is the usual artifact-sized driver constant.
  //
  // Scale shape: positional tokens + `lead` over ONE doc_id-partitioned
  // window turn phrase adjacency into a row-local predicate — no
  // token-table self-join anywhere (the oracle's join formulation is
  // O(occurrences(t1)) only because its planner pushes the term filters;
  // the lead form doesn't even need that). One exchange on doc_id serves
  // both the bigram census and the match; the phrase filter then reduces
  // to a narrow scan.
  private val x207 = GQuery(
    "x207_phrase_search", "ext-text retrieval phrase-positional",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      val tok = docs(s, dir)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos0", "term")))
        .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("term"))
        .withColumn("nxt", lead(col("term"), 1).over(w))
      val top = tok.where(col("nxt").isNotNull)
        .groupBy(col("term"), col("nxt")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term"), col("nxt"))
        .limit(1).collect()(0)
      val (t1, t2) = (top.getString(0), top.getString(1))
      tok.where(col("term") === t1 && col("nxt") === t2)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_occ"), min(col("pos")).cast("long").as("first_pos"))
        .select(col("doc_id"), lit(t1).as("t1"), lit(t2).as("t2"),
          col("n_occ"), col("first_pos"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (
              SELECT doc_id, r.pos AS pos, toks[r.pos] AS term
              FROM (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents) t,
                   unnest(range(1, len(toks) + 1)) r(pos)),
            bg AS (
              SELECT a.term AS t1, b.term AS t2, COUNT(*) AS n
              FROM tok a JOIN tok b
                ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
              GROUP BY 1, 2),
            q AS (SELECT t1, t2 FROM bg ORDER BY n DESC, t1, t2 LIMIT 1)
            SELECT p1.doc_id, q.t1, q.t2, CAST(COUNT(*) AS BIGINT) AS n_occ,
              CAST(MIN(p1.pos) AS BIGINT) AS first_pos
            FROM tok p1
            JOIN q ON p1.term = q.t1
            JOIN tok p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
              AND p2.term = q.t2
            GROUP BY 1, 2, 3 ORDER BY p1.doc_id"""))

  // ------------------------------------------------------------------- x224
  // Term burstiness (Church & Gale 1995): collection frequency over
  // document frequency — a term that appears 3× in few documents (cf/df
  // high) is "bursty"/topical; a term spread thinly everywhere (cf/df → 1)
  // is function-word-like. The signal IDF misses: two terms with equal df
  // can differ hugely in within-doc clumping, and burstiness is the
  // standard stopword/keyword discriminator layered onto x45's TF-IDF.
  // Integer milli-ratio, exact in both engines.
  //
  // Scale shape: the explode pre-aggregates per (term, doc) BEFORE the
  // global term rollup, so the wide shuffle carries one row per distinct
  // (term, doc) — map-side combinable both levels; output is vocab-sized.
  private val x224 = GQuery(
    "x224_term_burstiness", "ext-text burstiness cf-over-df",
    (s, dir) => {
      val perDoc = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("c"))
      perDoc
        .groupBy(col("term"))
        .agg(sum(col("c")).as("cf"), count(lit(1)).as("df"))
        .withColumn("burst_milli", expr("(1000 * cf) div df"))
        .orderBy(col("burst_milli").desc, col("term"))
    },
    Some("""WITH tok AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents),
            pd AS (
              SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS c
              FROM tok GROUP BY 1, 2)
            SELECT term, CAST(SUM(c) AS BIGINT) AS cf,
              CAST(COUNT(*) AS BIGINT) AS df,
              (1000 * CAST(SUM(c) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
                AS burst_milli
            FROM pd GROUP BY 1
            ORDER BY burst_milli DESC, term"""))

  // ------------------------------------------------------------------- x258
  // Vocabulary richness estimation — the question x173's Heaps curve
  // extrapolates, answered by the frequency-of-frequencies instead:
  // Chao1's bias-corrected richness bound V + f₁(f₁−1)/(2(f₂+1))
  // (Chao 1984 — "how many words exist that we haven't seen yet") and
  // the Good–Turing unseen-probability mass P₀ = f₁/N (Good 1953 — "how
  // often will the NEXT token be novel"), the two numbers a tokenizer
  // vocabulary budget and an OOV-rate forecast actually need. Exact
  // integers end to end: singleton/doubleton counts are exact, both
  // estimators are single integer divisions.
  //
  // Scale shape: one token explosion (the same single scan every Text
  // operator pays) → token-keyed count → a frequency-of-frequency
  // rollup (≤ max-count rows) → one-row estimators.
  private val x258 = GQuery(
    "x258_vocab_richness", "ext-text vocabulary-estimation chao1 good-turing",
    (s, dir) => {
      val counts = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      counts.agg(
          sum(col("c")).as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
          sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
        .select(col("n_tokens"), col("vocab"), col("f1"), col("f2"),
          expr("vocab + (f1 * (f1 - 1)) div (2 * (f2 + 1))").as("chao1"),
          expr("(1000000 * f1) div n_tokens").as("p0_micro"))
    },
    Some("""WITH toks AS (
              SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
            counts AS (
              SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
              FROM toks GROUP BY 1),
            m AS (
              SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
                CAST(COUNT(*) AS BIGINT) AS vocab,
                CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
                CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
              FROM counts)
            SELECT n_tokens, vocab, f1, f2,
              vocab + (f1 * (f1 - 1)) // (2 * (f2 + 1)) AS chao1,
              (1000000 * f1) // n_tokens AS p0_micro
            FROM m"""))

  // ------------------------------------------------------------------- x283
  // Misra–Gries heavy-hitter summary (Misra & Gries 1982; mergeable form
  // Agarwal et al. PODS 2012) — the DETERMINISTIC frequency tier next to
  // x20's freqItems: capacity-64 summary of the corpus token stream,
  // built as exact counts → TakeOrdered top-65 → subtract the 65-th
  // largest. Unlike x20 (whose candidate set is implementation-defined),
  // the one-shot MG summary is pure rank arithmetic over exact counts —
  // fully SQL-expressible, so the SKETCH itself hash-verifies, estimate
  // values included; every token with frequency > n/65 is present with
  // estimate within n/65 below truth. The INCREMENTAL form is
  // streaming/FreqMaintainStream (merge = add + subtract-(k+1)-th),
  // spec-gated for the maintained guarantee.
  //
  // Scale shape: one map-side-combinable token count (the only
  // fact-sized step), a distributed TakeOrderedAndProject, then k+1 rows.
  private val x283 = GQuery(
    "x283_frequent_tokens_mg", "ext-text sketch-agg misra-gries",
    (s, dir) => graft.operators.MisraGries
      .summarize(docs(s, dir).select(explode(tokens).as("token")),
        "token", 64)
      .orderBy(col("cnt").desc, col("item")),
    Some("""WITH tok AS (
              SELECT unnest(string_split(text, ' ')) AS item
              FROM documents),
            c AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt
                  FROM tok GROUP BY 1),
            tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c),
            r AS (SELECT item, cnt,
                ROW_NUMBER() OVER (ORDER BY cnt DESC, item) AS rk
              FROM c),
            sub AS (SELECT COALESCE(MAX(CASE WHEN rk = 65 THEN cnt END),
                0) AS s
              FROM r WHERE rk <= 65)
            SELECT r.item, r.cnt - sub.s AS cnt, tot.n
            FROM r, sub, tot
            WHERE r.rk <= 64 AND (r.cnt - sub.s > 0 OR r.rk = 1)
            ORDER BY cnt DESC, item"""))

  // ------------------------------------------------------------------- x284
  // Exact corpus-wide top-64 tokens — x283's ground truth as its own
  // oracled row (the exact/sketch twin discipline): the table the MG
  // estimates lower-bound, and the table FreqMaintainSpec recounts when
  // pinning the maintained guarantee. TakeOrdered top-k over the exact
  // token counts; deterministic (cnt desc, item) order.
  private val x284 = GQuery(
    "x284_frequent_tokens_exact", "ext-text frequency exact-twin",
    (s, dir) => docs(s, dir)
      .select(explode(tokens).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("item"))
      .limit(64),
    Some("""SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM (SELECT unnest(string_split(text, ' ')) AS item
                  FROM documents)
            GROUP BY 1 ORDER BY cnt DESC, item LIMIT 64"""))

  // ------------------------------------------------------------------- x290
  // Vocabulary concentration — the Gini COEFFICIENT of per-language token
  // frequencies (inequality, not x263's Gini impurity): a corpus whose
  // token mass concentrates in few types (Gini → 1) is
  // boilerplate/template-heavy and starves the tokenizer's tail; a flat
  // distribution (→ 0) suggests noise. Exact integer rank arithmetic on
  // the ascending-sorted count domain: G·10⁶ = 10⁶·(Σ(2i − v − 1)·cᵢ)
  // div (v·T) — ties among equal counts cannot change the sum, so any
  // deterministic tie order verifies. Rank-weighted products ride
  // DECIMAL(38,0)/HUGEINT (rank ≈ vocab 10⁷ × count 10¹² passes 2⁶³).
  //
  // Scale shape: one fact-sized token count (map-side combinable), then
  // a per-language VOCAB-domain rank window (vocab ≪ corpus — the
  // x283/x56 regime) and a 5-row rollup.
  private val x290 = GQuery(
    "x290_vocab_gini", "ext-text corpus-health vocabulary-concentration",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("c"), col("t"))
      docs(s, dir)
        .select(col("lang"), explode(tokens).as("t"))
        .groupBy(col("lang"), col("t")).agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("v"), sum(col("c")).as("n_tokens"),
          sum(col("rk").cast("decimal(38,0)") * col("c")).as("src"))
        .select(col("lang"), col("v"), col("n_tokens"),
          expr("""cast((1000000 * (2 * src
                - (cast(v as decimal(38,0)) + 1) * n_tokens))
              div (cast(v as decimal(38,0)) * n_tokens) as bigint)""")
            .as("gini_micro"))
        .orderBy("lang")
    },
    Some("""WITH tok AS (
              SELECT lang, unnest(string_split(text, ' ')) AS t
              FROM documents),
            c AS (SELECT lang, t, CAST(COUNT(*) AS BIGINT) AS c
                  FROM tok GROUP BY 1, 2),
            r AS (SELECT lang, c,
                ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c, t) AS rk
              FROM c),
            m AS (
              SELECT lang, CAST(COUNT(*) AS BIGINT) AS v,
                CAST(SUM(c) AS BIGINT) AS n_tokens,
                SUM(CAST(rk AS HUGEINT) * c) AS src
              FROM r GROUP BY 1)
            SELECT lang, v, n_tokens,
              CAST((1000000 * (2 * src - (CAST(v AS HUGEINT) + 1)
                  * n_tokens))
                // (CAST(v AS HUGEINT) * n_tokens) AS BIGINT) AS gini_micro
            FROM m ORDER BY lang"""))

  // ------------------------------------------------------------------- x295
  // Split-leakage audit — x24's decontamination question asked of the
  // SPLIT itself: after an md5-coin train/test split (the x287
  // discipline at document level), what fraction of TEST documents
  // share any word-6-gram with the TRAIN side? Near-duplicate leakage
  // across splits silently inflates every eval number; this is the
  // check that catches it before the numbers ship. Differs from x24 in
  // the scale regime, which is the point: x24's benchmark side is
  // eval-suite-sized and BROADCASTS, while a train split is
  // corpus-sized, so the membership test here is a co-partitioned
  // shuffle semi-join on 8-byte shingle hashes — the same decision
  // gradient as x39's Bloom tier, stated in the plan.
  //
  // Scale shape: one tokenize+shingle pass, one distinct on the train
  // side, one hash-keyed semi join, two 1-row rollups. Only 8-byte
  // hashes and doc ids cross the exchanges.
  private val x295 = GQuery(
    "x295_split_leakage_audit", "ext-text decontamination split-leakage",
    (s, dir) => {
      val sh = docs(s, dir)
        .select(col("doc_id"),
          substring(md5(concat(col("doc_id"), lit(":x295"))), 1, 2).as("h"),
          explode(array_distinct(
            graft.functions.HashFunctions.shingleHashes(tokens, 6)))
            .as("shingle"))
      val trainShingles = sh.where(col("h") <= "cb")
        .select("shingle").distinct()
      val leaky = sh.where(col("h") > "cb")
        .select(col("doc_id"), col("shingle"))
        .join(trainShingles, Seq("shingle"), "left_semi")
        .select("doc_id").distinct()
        .agg(count(lit(1)).as("n_leaky"))
      docs(s, dir)
        .where(substring(md5(concat(col("doc_id"), lit(":x295"))), 1, 2)
          > "cb")
        .agg(count(lit(1)).as("n_test"))
        .crossJoin(broadcast(leaky))
        .select(col("n_test"), col("n_leaky"),
          // guarded (the x264 lesson): an all-train coin flip on a tiny
          // corpus yields a defined NULL rate, not a division by zero
          expr("case when n_test > 0 then (1000 * n_leaky) div n_test end")
            .as("leak_milli"))
    },
    Some("""WITH w AS (
              SELECT doc_id, string_split(text, ' ') AS w,
                substr(md5(doc_id || ':x295'), 1, 2) AS h
              FROM documents),
            sh AS (SELECT doc_id, h,
                unnest(list_distinct(list_transform(
                  range(1, greatest(len(w) - 5, 1) + 1),
                  i -> array_to_string(w[i:i+5], ' ')))) AS shingle
              FROM w),
            train AS (SELECT DISTINCT shingle FROM sh WHERE h <= 'cb'),
            leaky AS (
              SELECT CAST(COUNT(DISTINCT s.doc_id) AS BIGINT) AS n_leaky
              FROM sh s JOIN train t USING (shingle) WHERE s.h > 'cb'),
            test AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_test
              FROM w WHERE h > 'cb')
            SELECT n_test, n_leaky,
              CASE WHEN n_test > 0 THEN (1000 * n_leaky) // n_test END
                AS leak_milli
            FROM test, leaky"""))

  // ------------------------------------------------------------------- x301
  // Zipf rank-frequency audit — the third corpus-statistics read next to
  // x290 (how much mass concentrates) and x283 (who concentrates): does
  // the token distribution follow the Zipfian rank·frequency ≈ constant
  // law natural language obeys and templated/synthetic text does not?
  // Per top-32 token: exact rank (count desc, token), count, the r·f
  // product, and r·f normalized against the top token's count in millis
  // (Zipf predicts ≈ 1000 at every rank; a flat template corpus shows a
  // rising line, a two-regime corpus a cliff). All exact integers.
  //
  // Scale shape: x284's — one map-side-combinable token count, one
  // distributed TakeOrdered top-32, rank arithmetic on 32 rows.
  private val x301 = GQuery(
    "x301_zipf_audit", "ext-text corpus-health zipf rank-frequency",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("item"))
      val all = org.apache.spark.sql.expressions.Window
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      docs(s, dir)
        .select(explode(tokens).as("item"))
        .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("item")).limit(32)
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("f1", max(when(col("rank") === 1L, col("cnt"))).over(all))
        .select(col("rank"), col("item"), col("cnt"),
          (col("rank") * col("cnt")).as("rf"),
          expr("(1000 * rank * cnt) div f1").as("rf_norm_milli"))
        .orderBy("rank")
    },
    Some("""WITH c AS (
              SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM (SELECT unnest(string_split(text, ' ')) AS item
                    FROM documents)
              GROUP BY 1),
            top AS (
              SELECT item, cnt,
                CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, item)
                  AS BIGINT) AS rank
              FROM c ORDER BY cnt DESC, item LIMIT 32)
            SELECT rank, item, cnt, rank * cnt AS rf,
              (1000 * rank * cnt)
                // MAX(CASE WHEN rank = 1 THEN cnt END) OVER ()
                AS rf_norm_milli
            FROM top ORDER BY rank"""))

  // ------------------------------------------------------------------- x302
  // Order-sensitive rolling-hash fingerprint, ORACLED EXACT TWIN of x15
  // (the r10 "no-oracle twin audit" conversion): the same polynomial
  // rolling form h ← h·B + hash(token) mod 2^64, but with every term
  // cross-engine-exact — the per-token hash is the big-endian low half of
  // md5 (Spark `conv(substr(md5,17,16),16,10)` ≡ DuckDB
  // `CAST('0x'||substr(md5,17,16) AS UBIGINT)`), the fold is Spark's
  // codegen'd `aggregate` higher-order function over the token array
  // (DuckDB `list_reduce`), and the mod-2^64 wraparound is explicit
  // DECIMAL(38,0)/HUGEINT arithmetic instead of x15's JVM-native long
  // overflow. Same shape as x15 at 100 TB: pure per-row map over the
  // document scan, no shuffle, order-sensitive where x14's bag-of-text
  // md5 is not (token swap → different fp).
  //
  // OUTPUT REPRESENTATION (round 12): the fingerprint is emitted as a
  // fixed-width 16-hex STRING, not the DECIMAL(38,0) itself — the r11
  // driver hash canonicalizes numerics through a path that is lossy
  // above signed int64 (x302 was the ONLY registry row whose values
  // reach 2^64; rows_match/schema_match passed, hash_match failed on
  // bit-exact values). The polynomial fold is unchanged; only the final
  // render differs: hi/lo 32-bit halves, each hex'd and zero-padded, in
  // BOTH engines. QueriesSpec's int64 output lint keeps the whole
  // failure class closed (no oracled row may emit numerics past int64).
  private val x302 = GQuery(
    "x302_fingerprint_rolling_exact",
    "ext-text dedup-fingerprint oracled-twin",
    (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          expr("""aggregate(split(text, ' '),
              CAST(0 AS DECIMAL(38,0)),
              (acc, t) -> CAST((acc * 1000003 +
                CAST(conv(substring(md5(t), 17, 16), 16, 10)
                  AS DECIMAL(38,0))) % 18446744073709551616
                AS DECIMAL(38,0)))""").as("fp_dec"))
        .select(col("doc_id"), lower(concat(
          lpad(hex(expr("CAST(fp_dec DIV 4294967296 AS BIGINT)")), 8, "0"),
          lpad(hex(expr("CAST(fp_dec % 4294967296 AS BIGINT)")), 8, "0")))
          .as("fp"))
        .orderBy("doc_id"),
    Some("""WITH f AS (
              SELECT doc_id, list_reduce(
                list_prepend(CAST(0 AS HUGEINT),
                  list_transform(string_split(text, ' '),
                    t -> CAST(CAST(CONCAT('0x', substr(md5(t), 17, 16))
                      AS UBIGINT) AS HUGEINT))),
                (a, x) -> (a * 1000003 + x)
                  % CAST('18446744073709551616' AS HUGEINT)) AS fp_dec
              FROM documents)
            SELECT doc_id, lower(
                lpad(to_hex(CAST(fp_dec // 4294967296 AS BIGINT)), 8, '0')
                || lpad(to_hex(CAST(fp_dec % 4294967296 AS BIGINT)), 8, '0'))
              AS fp
            FROM f ORDER BY doc_id"""))

  // ------------------------------------------------------------------- x303
  // Sequence packing, ORACLED EXACT TWIN of x85 (the second r10 twin
  // conversion): identical packing algorithm — md5-keyed shards,
  // first-fit by (h, doc_id) within shard, 512-token cuts, per-sequence
  // token/doc/start accounting and an id-stream digest — but over the
  // WHITESPACE token stream instead of x85's BPE ids (the only
  // non-SQL-expressible ingredient: a trained merge table), with the
  // digest as md5 of the ordered comma-joined stream (both engines).
  // Every boundary decision x85 makes is therefore hash-verified here
  // through the SHARED packSequences code path; x85 adds only the
  // id-vocabulary substitution on top. Scale shape is x85's: shard-local
  // window cumsum, one posexplode to token granularity, one (shard, seq)
  // aggregate — nothing global.
  private val x303 = GQuery(
    "x303_packed_sequences_exact",
    "ext-text sequence-packing oracled-twin",
    (s, dir) => packSequences(
      docs(s, dir).select(col("doc_id"), tokens.as("ids")),
      shardHexChars = 1, seqLen = 512, md5Digest = true),
    Some("""WITH d AS (
              SELECT doc_id,
                md5(CAST(doc_id AS VARCHAR) || ':42') AS h,
                substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 1) AS shard,
                string_split(text, ' ') AS ids,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n
              FROM documents),
            o AS (
              SELECT *, CAST(COALESCE(SUM(n) OVER (PARTITION BY shard
                  ORDER BY h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS strt
              FROM d),
            t AS (
              SELECT shard, doc_id, strt + pos AS g, pos, id
              FROM (SELECT shard, doc_id, strt,
                      unnest(ids) AS id,
                      CAST(unnest(range(len(ids))) AS BIGINT) AS pos
                    FROM o))
            SELECT shard, g // 512 AS seq_id,
              CAST(COUNT(*) AS BIGINT) AS n_tokens,
              CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
              CAST(SUM(CASE WHEN pos = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_starts,
              md5(string_agg(id, ',' ORDER BY g)) AS ids_digest
            FROM t GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ------------------------------------------------------------------- x306
  // Stopword-share audit — the cheapest of the corpus-quality probes a
  // pipeline runs per ingest source: per language, what fraction of the
  // token stream is function-word filler, and how many documents are
  // stopword-heavy (>30 % filler — boilerplate, navigation chrome, or
  // keyword stuffing read exactly like this). The stopword list is a
  // FIXED 8-token constant (the operator's contract — swap the list per
  // deployment, semantics unchanged); all ratios are exact integer
  // millis, so the audit hash-verifies.
  //
  // Scale shape: one explode to token granularity with a map-side
  // combinable per-doc aggregate, then a lang-domain rollup — the x11
  // shape; nothing wider than (lang, doc_id) ever shuffles.
  private val Stopwords = Seq("a", "the", "data", "table", "row", "value",
    "fast", "slow")

  private val x306 = GQuery(
    "x306_stopword_audit", "ext-text corpus-quality stopword-share",
    (s, dir) =>
      docs(s, dir)
        .select(col("lang"), col("doc_id"), explode(tokens).as("t"))
        .withColumn("is_stop",
          when(col("t").isin(Stopwords: _*), 1L).otherwise(0L))
        .groupBy(col("lang"), col("doc_id"))
        .agg(count(lit(1)).as("n"), sum(col("is_stop")).as("ns"))
        .groupBy(col("lang"))
        .agg(sum(col("n")).as("n_tokens"), sum(col("ns")).as("n_stop"),
          count(lit(1)).as("n_docs"),
          sum(when(col("ns") * 1000 > col("n") * 300, 1L).otherwise(0L))
            .as("n_stopheavy_docs"))
        .select(col("lang"), col("n_tokens"), col("n_stop"),
          expr("(1000 * n_stop) div n_tokens").as("stop_milli"),
          col("n_docs"), col("n_stopheavy_docs"))
        .orderBy("lang"),
    Some("""WITH d AS (
              SELECT lang, doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
                CAST(len(list_filter(string_split(text, ' '),
                  t -> t IN ('a', 'the', 'data', 'table', 'row', 'value',
                             'fast', 'slow'))) AS BIGINT) AS ns
              FROM documents)
            SELECT lang, CAST(SUM(n) AS BIGINT) AS n_tokens,
              CAST(SUM(ns) AS BIGINT) AS n_stop,
              CAST((1000 * SUM(ns)) // SUM(n) AS BIGINT) AS stop_milli,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(CASE WHEN ns * 1000 > n * 300 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stopheavy_docs
            FROM d GROUP BY 1 ORDER BY 1"""))

  // ------------------------------------------------------------------- x307
  // Split n-gram novelty — the generalization-risk read next to x295's
  // leakage audit: of the validation slice's distinct word bigrams, how
  // many never occur in the training slice? Near-zero novelty means the
  // val set cannot measure generalization (it is lexically inside the
  // train distribution); high novelty with x295 leakage ≈ 0 is the
  // healthy shape. Same deterministic doc_id%5 split as the split
  // family; exact integer millis.
  //
  // Scale shape: two distinct (lang, bigram) sets built in one explode
  // pass each (map-side combinable), one anti join on the bigram key —
  // vocabulary-sized exchanges, never corpus-sized.
  private val x307 = GQuery(
    "x307_ngram_novelty", "ext-text split-audit bigram-novelty",
    (s, dir) => {
      val bi = docs(s, dir)
        .select(col("lang"), col("doc_id"), tokens.as("toks"))
        .select(col("lang"), col("doc_id"), explode(expr(
          "transform(sequence(1, greatest(size(toks) - 1, 0)), " +
            "i -> concat_ws(' ', slice(toks, i, 2)))")).as("bigram"))
      val train = bi.where(pmod(col("doc_id"), lit(5)) =!= 0)
        .select("lang", "bigram").distinct()
      val valB = bi.where(pmod(col("doc_id"), lit(5)) === 0)
        .select("lang", "bigram").distinct()
      val novel = valB.join(train, Seq("lang", "bigram"), "left_anti")
        .groupBy("lang").agg(count(lit(1)).as("n_novel"))
      valB.groupBy("lang").agg(count(lit(1)).as("n_val_bigrams"))
        .join(novel, Seq("lang"), "left")
        .select(col("lang"), col("n_val_bigrams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          expr("(1000 * coalesce(n_novel, 0)) div n_val_bigrams")
            .as("novelty_milli"))
        .orderBy("lang")
    },
    Some("""WITH b AS (
              SELECT lang, doc_id, unnest(list_transform(
                range(1, greatest(len(w) - 1, 0) + 1),
                i -> array_to_string(w[i:i+1], ' '))) AS bigram
              FROM (SELECT lang, doc_id, string_split(text, ' ') AS w
                    FROM documents)),
            train AS (SELECT DISTINCT lang, bigram FROM b
                      WHERE doc_id % 5 <> 0),
            v AS (SELECT DISTINCT lang, bigram FROM b WHERE doc_id % 5 = 0),
            novel AS (
              SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_novel
              FROM v WHERE NOT EXISTS (SELECT 1 FROM train t
                WHERE t.lang = v.lang AND t.bigram = v.bigram)
              GROUP BY 1)
            SELECT v.lang, CAST(COUNT(*) AS BIGINT) AS n_val_bigrams,
              COALESCE(MAX(n.n_novel), 0) AS n_novel,
              (1000 * COALESCE(MAX(n.n_novel), 0)) // COUNT(*)
                AS novelty_milli
            FROM v LEFT JOIN novel n ON n.lang = v.lang
            GROUP BY 1 ORDER BY 1"""))

  // ------------------------------------------------------------------- x315
  // Contamination ATTRIBUTION — x24 answers "which corpus docs are
  // contaminated"; this answers the reviewer's follow-up "which BENCHMARK
  // items leaked, and how widely": per benchmark document, how many
  // corpus documents share at least one of its word-6-grams and how many
  // of its distinct shingles appear anywhere in the corpus. The table a
  // benchmark maintainer reads to decide which eval items to retire.
  // Benchmark docs with zero leakage appear with zeros (the report must
  // show the clean items too).
  //
  // Scale shape: x24's — the benchmark shingle side is eval-suite-sized
  // and broadcasts; shingles travel as the same 64-bit kernel hashes
  // (ShingleHashes), so the join and both distinct-counts run on 8-byte
  // keys (distinct-hash ≡ distinct-shingle up to the documented 2⁻⁶⁴
  // collision window the whole x24 family prices in).
  private val x315 = GQuery(
    "x315_contamination_attribution",
    "ext-text decontamination benchmark-attribution",
    (s, dir) => {
      val sh = docs(s, dir).select(col("doc_id"),
        explode(array_distinct(
          graft.functions.HashFunctions.shingleHashes(tokens, 6)))
          .as("shingle"))
      val bench = sh.where(col("doc_id") < BenchBound)
        .select(col("doc_id").as("bench_id"), col("shingle"))
      val corpus = sh.where(col("doc_id") >= BenchBound)
      val hits = corpus.join(broadcast(bench), "shingle")
        .groupBy(col("bench_id"))
        .agg(countDistinct(col("doc_id")).as("n_docs_hit"),
          countDistinct(col("shingle")).as("n_shingles_leaked"))
      docs(s, dir).where(col("doc_id") < BenchBound)
        .select(col("doc_id").as("bench_id"))
        .join(hits, Seq("bench_id"), "left")
        .select(col("bench_id"),
          coalesce(col("n_docs_hit"), lit(0L)).as("n_docs_hit"),
          coalesce(col("n_shingles_leaked"), lit(0L))
            .as("n_shingles_leaked"))
        .orderBy("bench_id")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents),
            sh AS (SELECT doc_id,
                unnest(list_distinct(list_transform(
                  range(1, greatest(len(w) - 5, 1) + 1),
                  i -> array_to_string(w[i:i+5], ' ')))) AS shingle
              FROM w),
            hits AS (
              SELECT b.doc_id AS bench_id,
                CAST(COUNT(DISTINCT c.doc_id) AS BIGINT) AS n_docs_hit,
                CAST(COUNT(DISTINCT b.shingle) AS BIGINT)
                  AS n_shingles_leaked
              FROM sh b JOIN sh c ON c.shingle = b.shingle
              WHERE b.doc_id < 50 AND c.doc_id >= 50
              GROUP BY 1)
            SELECT d.doc_id AS bench_id,
              COALESCE(h.n_docs_hit, 0) AS n_docs_hit,
              COALESCE(h.n_shingles_leaked, 0) AS n_shingles_leaked
            FROM documents d LEFT JOIN hits h ON h.bench_id = d.doc_id
            WHERE d.doc_id < 50 ORDER BY 1"""))

  // ------------------------------------------------------------------- x317
  // Packing-efficiency audit — the trainer-capacity read over the x303
  // packing: per shard, sequences produced, fill ratio, and tail waste
  // (padding tokens a 512-token trainer would burn). The Spark side
  // aggregates the ACTUAL packed output (shared packSequences path — the
  // number the trainer sees); the oracle computes the closed form
  // (n_seqs = ceil(Σtokens/512), waste = 512·n_seqs − Σtokens) from the
  // raw corpus — so a hash match PROVES the packing is gapless and
  // contiguous per shard, not just that two aggregations agree.
  //
  // Scale shape: x303's plan plus a 16-row shard rollup.
  private val x317 = GQuery(
    "x317_packing_efficiency", "ext-text sequence-packing capacity-audit",
    (s, dir) =>
      packSequences(docs(s, dir).select(col("doc_id"), tokens.as("ids")),
        shardHexChars = 1, seqLen = 512, md5Digest = true)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_seqs"), sum(col("n_tokens")).as("n_tokens"),
          sum(when(col("n_tokens") === 512L, 1L).otherwise(0L))
            .as("n_full_seqs"))
        .select(col("shard"), col("n_seqs"), col("n_tokens"),
          col("n_full_seqs"),
          (lit(512L) * col("n_seqs") - col("n_tokens")).as("tail_waste"),
          expr("(1000 * n_tokens) div (512 * n_seqs)").as("fill_milli"))
        .orderBy("shard"),
    Some("""WITH d AS (
              SELECT substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 1)
                  AS shard,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n
              FROM documents),
            s AS (
              SELECT shard, CAST(SUM(n) AS BIGINT) AS n_tokens
              FROM d GROUP BY 1)
            SELECT shard,
              (n_tokens + 511) // 512 AS n_seqs,
              n_tokens,
              n_tokens // 512 AS n_full_seqs,
              512 * ((n_tokens + 511) // 512) - n_tokens AS tail_waste,
              (1000 * n_tokens) // (512 * ((n_tokens + 511) // 512))
                AS fill_milli
            FROM s ORDER BY shard"""))

  // ------------------------------------------------------------------- x320
  // Mixture rebalance plan — the PLANNING half of the x29/x82 mixture
  // samplers: per language, how much must each slice be upsampled to
  // balance the corpus to its largest language, and what does the
  // rebalanced corpus cost in rows? The table a data lead reads before
  // committing to a mixture run (upsample factors >> 1000 millis flag
  // languages too thin to balance by repetition). Exact integer millis
  // throughout — the plan itself is an artifact worth hash-pinning,
  // because a mixture re-run must reproduce it bit-for-bit.
  //
  // Scale shape: one lang-domain count, window arithmetic on the
  // lang-sized grid.
  private val x320 = GQuery(
    "x320_mixture_rebalance_plan", "ext-corpus mixture planning",
    (s, dir) => {
      val all = org.apache.spark.sql.expressions.Window
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      docs(s, dir).groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .withColumn("total", sum(col("n_docs")).over(all))
        .withColumn("max_docs", max(col("n_docs")).over(all))
        .select(col("lang"), col("n_docs"),
          expr("(1000 * n_docs) div total").as("share_milli"),
          expr("(1000 * max_docs) div n_docs").as("upsample_milli"),
          expr("(n_docs * ((1000 * max_docs) div n_docs)) div 1000")
            .as("expected_rows"))
        .orderBy("lang")
    },
    Some("""WITH c AS (
              SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
              FROM documents GROUP BY 1),
            w AS (SELECT lang, n_docs,
                    CAST(SUM(n_docs) OVER () AS BIGINT) AS total,
                    CAST(MAX(n_docs) OVER () AS BIGINT) AS max_docs
                  FROM c)
            SELECT lang, n_docs,
              CAST((1000 * n_docs) // total AS BIGINT) AS share_milli,
              CAST((1000 * max_docs) // n_docs AS BIGINT) AS upsample_milli,
              CAST((n_docs * ((1000 * max_docs) // n_docs)) // 1000
                AS BIGINT) AS expected_rows
            FROM w ORDER BY lang"""))

  // ------------------------------------------------------------------- x326
  // Per-source length fingerprint — the fastest way to spot a broken or
  // off-distribution ingest source: exact nearest-rank p50/p90/p99 of
  // document length (chars) per source plus the mean in millis. A source
  // whose p99 collapses shipped truncated documents; one whose p50
  // explodes shipped concatenation bugs. Same (source, n_chars)-domain
  // cumsum machinery as x310 — facts never sort.
  private val x326 = GQuery(
    "x326_source_length_profile", "ext-text ingest-health length-profile",
    (s, dir) => {
      val wt = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("n_chars"))
      val all = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
      docs(s, dir)
        .groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("c", sum(col("cnt")).over(wt))
        .withColumn("n", sum(col("cnt")).over(all))
        .withColumn("schars", sum(col("n_chars") * col("cnt")).over(all))
        .groupBy(col("source"))
        .agg(max(col("n")).as("n_docs"),
          max(when(expr("c - cnt < (n + 1) div 2 AND (n + 1) div 2 <= c"),
            col("n_chars"))).as("p50_chars"),
          max(when(expr("c - cnt < (9 * n + 9) div 10 AND (9 * n + 9) div 10 <= c"),
            col("n_chars"))).as("p90_chars"),
          max(when(expr("c - cnt < (99 * n + 99) div 100 AND (99 * n + 99) div 100 <= c"),
            col("n_chars"))).as("p99_chars"),
          max(expr("(1000 * schars) div n")).as("mean_chars_milli"))
        .orderBy("source")
    },
    Some("""WITH d AS (
              SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM documents GROUP BY 1, 2),
            c AS (SELECT source, n_chars, cnt,
                    CAST(SUM(cnt) OVER (PARTITION BY source
                      ORDER BY n_chars) AS BIGINT) AS c,
                    CAST(SUM(cnt) OVER (PARTITION BY source)
                      AS BIGINT) AS n,
                    CAST(SUM(n_chars * cnt) OVER (PARTITION BY source)
                      AS BIGINT) AS schars
                  FROM d)
            SELECT source, MAX(n) AS n_docs,
              MAX(CASE WHEN c - cnt < (n + 1) // 2
                AND (n + 1) // 2 <= c THEN n_chars END) AS p50_chars,
              MAX(CASE WHEN c - cnt < (9 * n + 9) // 10
                AND (9 * n + 9) // 10 <= c THEN n_chars END) AS p90_chars,
              MAX(CASE WHEN c - cnt < (99 * n + 99) // 100
                AND (99 * n + 99) // 100 <= c THEN n_chars END)
                AS p99_chars,
              CAST(MAX((1000 * schars) // n) AS BIGINT)
                AS mean_chars_milli
            FROM c GROUP BY 1 ORDER BY 1"""))

  // ------------------------------------------------------------------- x329
  // Collocation lift — the multiword-unit detector that feeds tokenizer
  // merge decisions (BPE merges the most FREQUENT pair; a vocabulary
  // designer wants the most ASSOCIATED pair): top-32 word bigrams by
  // exact integer lift P(ab)/(P(a)P(b)) = c_ab·n_uni² / (n_bi·c_a·c_b),
  // in millis with DECIMAL(38,0)/HUGEINT headroom (n_uni² passes 2⁶³
  // just past ~3e9 tokens — the x270 discipline), min-support 5, ranked
  // (lift desc, bigram) so the cut is deterministic. PMI = log(lift):
  // same ranking, no float.
  //
  // Scale shape: one unigram and one bigram map-side-combinable count,
  // two vocabulary-keyed joins (token strings at fixture scale; xxhash
  // the key first at 100 TB as the x29 scaladoc prescribes), one
  // distributed TakeOrdered top-32.
  private val x329 = GQuery(
    "x329_collocation_lift", "ext-text collocation mwu-lift",
    (s, dir) => {
      val all = org.apache.spark.sql.expressions.Window
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      val uni = docs(s, dir).select(explode(tokens).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
        .withColumn("n_uni", sum(col("c")).over(all))
      val bi = docs(s, dir)
        .select(tokens.as("toks"))
        .select(explode(expr(
          "transform(sequence(1, greatest(size(toks) - 1, 0)), " +
            "i -> concat_ws(' ', slice(toks, i, 2)))")).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("c_ab"))
        .withColumn("n_bi", sum(col("c_ab")).over(all))
        .where(col("c_ab") >= 5)
      bi
        .withColumn("t1", expr("split(b, ' ')[0]"))
        .withColumn("t2", expr("split(b, ' ')[1]"))
        .join(uni.select(col("t").as("t1"), col("c").as("c_a"),
          col("n_uni")), "t1")
        .join(uni.select(col("t").as("t2"), col("c").as("c_b")), "t2")
        .select(col("b").as("bigram"), col("c_ab"), col("c_a"), col("c_b"),
          expr("""CAST((1000 * CAST(c_ab AS DECIMAL(38,0)) * n_uni * n_uni)
                div (CAST(n_bi AS DECIMAL(38,0)) * c_a * c_b) AS BIGINT)""")
            .as("lift_milli"))
        .orderBy(col("lift_milli").desc, col("bigram"))
        .limit(32)
    },
    Some("""WITH toks AS (
              SELECT string_split(text, ' ') AS w FROM documents),
            uni AS (
              SELECT t, CAST(COUNT(*) AS BIGINT) AS c
              FROM (SELECT unnest(w) AS t FROM toks) GROUP BY 1),
            nu AS (SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM uni),
            bi AS (
              SELECT b, CAST(COUNT(*) AS BIGINT) AS c_ab
              FROM (SELECT unnest(list_transform(
                      range(1, greatest(len(w) - 1, 0) + 1),
                      i -> array_to_string(w[i:i+1], ' '))) AS b
                    FROM toks)
              GROUP BY 1),
            nb AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_bi FROM bi)
            SELECT b AS bigram, c_ab, ua.c AS c_a, ub.c AS c_b,
              CAST((1000 * CAST(c_ab AS HUGEINT) * nu.n_uni * nu.n_uni)
                // (CAST(nb.n_bi AS HUGEINT) * ua.c * ub.c) AS BIGINT)
                AS lift_milli
            FROM bi, nu, nb, uni ua, uni ub
            WHERE c_ab >= 5
              AND ua.t = string_split(b, ' ')[1]
              AND ub.t = string_split(b, ' ')[2]
            ORDER BY lift_milli DESC, bigram LIMIT 32"""))

  /** (doc_id, g): each document's distinct word 6-grams — the bloom
    * decontamination rows' (x334, x350) shingle side.
    */
  private def word6grams(s: SparkSession, dir: String): DataFrame = docs(s, dir)
    .select(col("doc_id"), split(col("text"), " ").as("w"))
    .where(size(col("w")) >= 6)
    .select(col("doc_id"), explode(expr(
      """array_distinct(transform(sequence(0, size(w) - 6),
           i -> concat_ws(' ', slice(w, i + 1, 6))))""")).as("g"))

  // ------------------------------------------------------------------ x334
  // Bloom decontamination, ORACLED EXACT TWIN of x39: the same
  // filter-shaped decision — build a fixed-memory bit set from the
  // benchmark's word-6-gram shingles, flag corpus docs whose shingles
  // ALL-k-positions-hit — with x39's seeded Spark BloomFilter swapped
  // for an md5-derived one DuckDB reproduces bit-for-bit: m = 131072
  // bits, k = 4 positions per shingle, pos_j(g) = low64(md5(j||':'||g))
  // mod m. Because the exact-membership side (x24's string n-gram join)
  // is computed in the SAME row, the output hash-pins the Bloom
  // property itself: n_false_pos = bloom_hits − exact_hits is >= 0 on
  // every row (no false negatives), and its magnitude IS the measured
  // FP rate x39's TextSketchSpec can only bound — here cross-engine
  // exact. One row per corpus doc, zeros included.
  //
  // Scale shape is x39's: the filter is a <= m-row distinct position
  // set (broadcast — it is the Bloom bit array in relational form), the
  // benchmark shingle set broadcasts for the exact side, and the corpus
  // side is one narrow shingle explode feeding two broadcast probes and
  // a per-doc aggregate. Production stays x39 (native codegen'd
  // mightContainLong, zero join); this is the audit twin.
  private val x334 = GQuery(
    "x334_bloom_decontam_exact", "ext-text decontamination oracled-twin",
    (s, dir) => {
      val sh = word6grams(s, dir)
      val pos = sh.select(col("doc_id"), col("g"), explode(expr(
        """transform(sequence(0, 3), j -> CAST(
             CAST(conv(substring(md5(concat(j, ':', g)), 17, 16), 16, 10)
               AS DECIMAL(38, 0)) % 131072 AS BIGINT))""")).as("p"))
      val bloomBits = pos.where(col("doc_id") < BenchBound)
        .select("p").distinct().withColumn("bit_set", lit(1))
      val benchG = sh.where(col("doc_id") < BenchBound)
        .select("g").distinct().withColumn("exact_hit", lit(1L))
      val probed = pos.where(col("doc_id") >= BenchBound)
        .join(broadcast(bloomBits), Seq("p"), "left")
        .groupBy(col("doc_id"), col("g"))
        .agg((min(coalesce(col("bit_set"), lit(0))) === 1).as("bloom_hit"))
        .join(broadcast(benchG), Seq("g"), "left")
      val perDoc = probed.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom_hits"),
          sum(coalesce(col("exact_hit"), lit(0L))).as("n_exact_hits"))
      docs(s, dir).where(col("doc_id") >= BenchBound).select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
          coalesce(col("n_bloom_hits"), lit(0L)).as("n_bloom_hits"),
          coalesce(col("n_exact_hits"), lit(0L)).as("n_exact_hits"))
        .withColumn("n_false_pos", col("n_bloom_hits") - col("n_exact_hits"))
        .withColumn("flagged", col("n_bloom_hits") > 0)
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                     range(len(w) - 5),
                     i -> array_to_string(w[i + 1 : i + 6], ' ')))) AS g
                   FROM w WHERE len(w) >= 6),
            pos AS (SELECT doc_id, g, CAST(
                      CAST(CONCAT('0x', substr(md5(CAST(j AS VARCHAR) || ':' || g),
                        17, 16)) AS UBIGINT) % 131072 AS BIGINT) AS p
                    FROM sh CROSS JOIN (SELECT unnest(range(4)) AS j)),
            bits AS (SELECT DISTINCT p FROM pos WHERE doc_id < 50),
            bench AS (SELECT DISTINCT g FROM sh WHERE doc_id < 50),
            probed AS (SELECT pos.doc_id, pos.g,
                         MIN(CASE WHEN bits.p IS NULL THEN 0 ELSE 1 END) = 1
                           AS bloom_hit
                       FROM pos LEFT JOIN bits USING (p)
                       WHERE pos.doc_id >= 50
                       GROUP BY 1, 2),
            per_doc AS (SELECT probed.doc_id,
                          CAST(COUNT(*) AS BIGINT) AS n_shingles,
                          CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_bloom_hits,
                          CAST(SUM(CASE WHEN bench.g IS NULL THEN 0 ELSE 1 END)
                            AS BIGINT) AS n_exact_hits
                        FROM probed LEFT JOIN bench USING (g)
                        GROUP BY 1)
            SELECT d.doc_id,
              COALESCE(n_shingles, 0) AS n_shingles,
              COALESCE(n_bloom_hits, 0) AS n_bloom_hits,
              COALESCE(n_exact_hits, 0) AS n_exact_hits,
              COALESCE(n_bloom_hits, 0) - COALESCE(n_exact_hits, 0)
                AS n_false_pos,
              COALESCE(n_bloom_hits, 0) > 0 AS flagged
            FROM documents d LEFT JOIN per_doc USING (doc_id)
            WHERE d.doc_id >= 50
            ORDER BY d.doc_id"""))

  // ------------------------------------------------------------------ x336
  // Token-budget curve — the data-budgeting row next to x316's dedup
  // threshold curve and x313's quality-survival table: for each
  // uniqueness cutoff (per-doc distinct-token share in millis, the
  // cheapest repetition-quality axis, 0…900 step 100), how many
  // documents and how many TOKENS survive, absolute and in millis of
  // the corpus. This is the curve an epoch planner reads to pick the
  // filter strength that still meets a token target (the
  // Chinchilla-style "do we have enough data at this quality bar"
  // question) — one row per candidate cutoff, exact integers.
  //
  // Scale shape: one doc scan to a (score)-domain grid (<= 1001 cells),
  // the 10 thresholds explode INSIDE the grid (no join), one
  // threshold-domain rollup. The fact table is never sorted and never
  // joined.
  private val x336 = GQuery(
    "x336_token_budget_curve", "ext-text data-budget planning",
    (s, dir) => {
      val grid = docs(s, dir)
        .select(size(tokens).cast("long").as("n_tok"),
          expr("(1000 * size(array_distinct(split(text, ' ')))) div size(split(text, ' '))")
            .as("score"))
        .groupBy(col("score"))
        .agg(count(lit(1)).as("docs"), sum(col("n_tok")).as("toks"))
      grid
        .select(col("score"), col("docs"), col("toks"),
          explode(expr("sequence(0, 900, 100)")).as("threshold"))
        .groupBy(col("threshold"))
        .agg(sum(when(col("score") >= col("threshold"), col("docs")).otherwise(0L))
            .as("docs_kept"),
          sum(when(col("score") >= col("threshold"), col("toks")).otherwise(0L))
            .as("tokens_kept"),
          sum(col("docs")).as("t_docs"), sum(col("toks")).as("t_toks"))
        .select(col("threshold").cast("long").as("threshold"),
          col("docs_kept"), col("tokens_kept"),
          expr("(1000 * docs_kept) div t_docs").as("docs_milli"),
          expr("(1000 * tokens_kept) div t_toks").as("tokens_milli"))
        .orderBy("threshold")
    },
    Some("""WITH d AS (
              SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                (1000 * CAST(len(list_distinct(string_split(text, ' ')))
                  AS BIGINT)) // len(string_split(text, ' ')) AS score
              FROM documents),
            grid AS (
              SELECT score, CAST(COUNT(*) AS BIGINT) AS docs,
                CAST(SUM(n_tok) AS BIGINT) AS toks
              FROM d GROUP BY 1),
            th AS (SELECT unnest(range(0, 1000, 100)) AS threshold)
            SELECT CAST(th.threshold AS BIGINT) AS threshold,
              CAST(SUM(CASE WHEN score >= threshold THEN docs ELSE 0 END)
                AS BIGINT) AS docs_kept,
              CAST(SUM(CASE WHEN score >= threshold THEN toks ELSE 0 END)
                AS BIGINT) AS tokens_kept,
              CAST((1000 * SUM(CASE WHEN score >= threshold THEN docs
                ELSE 0 END)) // SUM(docs) AS BIGINT) AS docs_milli,
              CAST((1000 * SUM(CASE WHEN score >= threshold THEN toks
                ELSE 0 END)) // SUM(toks) AS BIGINT) AS tokens_milli
            FROM grid CROSS JOIN th
            GROUP BY 1 ORDER BY 1"""))

  // ------------------------------------------------------------------ x339
  // Vocabulary growth curve (Heaps'-law audit) — the tokenizer-planning
  // read beside x290's Gini and x324's df profile: how fast does the
  // distinct word-3-gram vocabulary grow as the corpus grows? (3-gram
  // types, not unigrams: the fixture's closed unigram vocabulary
  // saturates in the first bucket, while the combinatorial 3-gram space
  // keeps growing — the regime a BPE/vocab planner actually faces.)
  // Exact closed form with NO cumulative-distinct pass: every 3-gram
  // type is charged to the 50-doc bucket where it FIRST appears (one
  // groupBy gram → min bucket), so the running vocabulary after bucket
  // b is just the bucket-domain cumulative sum of new-type counts. Per
  // bucket: new types, cumulative types, cumulative gram instances, and
  // the type/instance-millis ratio whose decay is the Heaps exponent an
  // operator eyeballs before sizing a vocabulary.
  //
  // Scale shape: one gram explode → (gram)-keyed min aggregate →
  // bucket-domain grid (n_docs/50 cells); the cumulative window runs on
  // the GRID, never the gram stream. First-appearance charging is what
  // makes the curve computable in one pass at 100 TB.
  private val x339 = GQuery(
    "x339_vocab_growth", "ext-text tokenizer-planning heaps-law",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("bucket"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val tok = docs(s, dir)
        .select(expr("doc_id div 50").as("bucket"), split(col("text"), " ").as("w"))
        .where(size(col("w")) >= 3)
        .select(col("bucket"), explode(expr(
          "transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i + 1], w[i + 2]))"))
          .as("t"))
      val newTypes = tok.groupBy(col("t")).agg(min(col("bucket")).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("new_types"))
      tok.groupBy(col("bucket")).agg(count(lit(1)).as("n_tokens"))
        .join(newTypes, Seq("bucket"), "left")
        .select(col("bucket"), coalesce(col("new_types"), lit(0L)).as("new_types"),
          col("n_tokens"))
        .withColumn("cum_types", sum(col("new_types")).over(w))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .withColumn("type_token_milli",
          expr("(1000 * cum_types) div cum_tokens"))
        .orderBy("bucket")
    },
    Some("""WITH w AS (
              SELECT doc_id // 50 AS bucket, string_split(text, ' ') AS w
              FROM documents),
            tok AS (
              SELECT bucket, unnest(list_transform(range(len(w) - 2),
                i -> w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3])) AS t
              FROM w WHERE len(w) >= 3),
            nt AS (
              SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_types FROM (
                SELECT t, MIN(bucket) AS bucket FROM tok GROUP BY 1)
              GROUP BY 1),
            bt AS (
              SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens
              FROM tok GROUP BY 1),
            g AS (
              SELECT bt.bucket, COALESCE(new_types, 0) AS new_types, n_tokens
              FROM bt LEFT JOIN nt USING (bucket)),
            c AS (
              SELECT bucket, new_types, n_tokens,
                CAST(SUM(new_types) OVER (ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_types,
                CAST(SUM(n_tokens) OVER (ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_tokens
              FROM g)
            SELECT bucket, new_types, n_tokens, cum_types, cum_tokens,
              CAST((1000 * cum_types) // cum_tokens AS BIGINT)
                AS type_token_milli
            FROM c ORDER BY bucket"""))

  // ------------------------------------------------------------------- x343
  // Feature-hashing collision audit (Weinberger et al. 2009, "hashing
  // trick") — the table an operator reads before fixing the hashed
  // feature-space width for a linear model / CTR-style pipeline: for each
  // candidate width 2^k, how many distinct tokens collide, the worst
  // bucket load, and the load factor. The bucket IS the first k/4 hex
  // chars of md5(token) — the x332 md5 discipline, so both engines bucket
  // identically and the audit is exact, not simulated. One 16-hash-wide
  // vocabulary scan serves all three widths.
  //
  // Scale shape: a distinct over the token explode (vocabulary-sized,
  // the x38 shape), a 3-way width explode of the VOCABULARY (not the
  // corpus), and two nested map-side-combinable aggregates; nothing
  // corpus-sized crosses a shuffle twice.
  private val x343 = GQuery(
    "x343_feature_hash_collisions", "ext-text feature-hashing collision audit",
    (s, dir) => {
      val toks = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .where(length(col("tok")) > 0)
        .distinct()
      toks
        .select(col("tok"), explode(expr("array(8, 12, 16)")).as("k_bits"))
        .select(col("k_bits"),
          expr("substr(md5(tok), 1, k_bits div 4)").as("bucket"))
        .groupBy(col("k_bits"), col("bucket"))
        .agg(count(lit(1)).as("load"))
        .groupBy(col("k_bits").cast("long").as("k_bits"))
        .agg(sum(col("load")).as("n_tokens"),
          count(lit(1)).as("buckets_used"), max(col("load")).as("max_load"))
        .withColumn("table_size",
          expr("shiftleft(cast(1 as bigint), cast(k_bits as int))"))
        .withColumn("collision_milli",
          expr("cast((1000 * (n_tokens - buckets_used)) div n_tokens as bigint)"))
        .withColumn("load_factor_milli",
          expr("cast((1000 * n_tokens) div table_size as bigint)"))
        .orderBy("k_bits")
    },
    Some("""WITH toks AS (
              SELECT DISTINCT tok FROM (
                SELECT unnest(string_split(text, ' ')) AS tok
                FROM documents)
              WHERE len(tok) > 0),
            l AS (
              SELECT k_bits, substr(md5(tok), 1, k_bits // 4) AS bucket,
                CAST(COUNT(*) AS BIGINT) AS load
              FROM toks
              CROSS JOIN (SELECT unnest([8, 12, 16]) AS k_bits)
              GROUP BY 1, 2)
            SELECT CAST(k_bits AS BIGINT) AS k_bits,
              CAST(SUM(load) AS BIGINT) AS n_tokens,
              CAST(COUNT(*) AS BIGINT) AS buckets_used,
              CAST(MAX(load) AS BIGINT) AS max_load,
              CAST(1::BIGINT << k_bits AS BIGINT) AS table_size,
              CAST((1000 * (SUM(load) - COUNT(*))) // SUM(load) AS BIGINT)
                AS collision_milli,
              CAST((1000 * SUM(load)) // (1::BIGINT << k_bits) AS BIGINT)
                AS load_factor_milli
            FROM l GROUP BY k_bits ORDER BY 1"""))

  // ------------------------------------------------------------------- x347
  // Readability profile (Flesch 1948; Kincaid et al. 1975) — the classic
  // corpus-quality lens the length/punctuation battery (x12) does not
  // carry: reading ease and grade level per language, from exact integer
  // ingredients — words (token count), sentences (terminal-punctuation
  // runs, clamped ≥1 so headline-style docs don't divide by zero), and a
  // syllable proxy (vowel-run count, the standard approximation when no
  // dictionary is available). The Flesch constants ride in milli-units
  // with every ratio a floor division, so both engines land the same
  // integers; the vowel-run proxy is a DEFINED statistic of the text,
  // identical on both sides, not an estimate that needs tolerance.
  //
  // Scale shape: one map-side pass over the corpus computing three
  // per-doc integers, one language-domain rollup. DECIMAL(38,0) casts on
  // the constant·total products: 84600·Σvowel-runs is ~10¹⁹ at 10¹²
  // docs, past BIGINT.
  private val x347 = GQuery(
    "x347_readability", "ext-text readability flesch-kincaid",
    (s, dir) => {
      val d = docs(s, dir).select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("w"),
        greatest(expr("regexp_count(text, '[.!?]+')").cast("long"), lit(1L))
          .as("sent"),
        expr("regexp_count(lower(text), '[aeiou]+')").cast("long").as("vg"))
      d.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("tw"),
          sum(col("sent")).as("ts"), sum(col("vg")).as("tvg"))
        .select(col("lang"), col("n_docs"), col("tw"), col("ts"), col("tvg"),
          expr("""cast(206835 - (1015 * cast(tw as decimal(38,0))) div ts
               - (84600 * cast(tvg as decimal(38,0))) div tw as bigint)""")
            .as("flesch_milli"),
          expr("""cast((390 * cast(tw as decimal(38,0))) div ts
               + (11800 * cast(tvg as decimal(38,0))) div tw
               - 15590 as bigint)""").as("fk_grade_milli"))
        .orderBy("lang")
    },
    Some("""WITH d AS (
              SELECT lang,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
                GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+'))
                  AS BIGINT), 1) AS sent,
                CAST(len(regexp_extract_all(lower(text), '[aeiou]+'))
                  AS BIGINT) AS vg
              FROM documents),
            g AS (
              SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(w) AS BIGINT) AS tw, CAST(SUM(sent) AS BIGINT) AS ts,
                CAST(SUM(vg) AS BIGINT) AS tvg
              FROM d GROUP BY 1)
            SELECT lang, n_docs, tw, ts, tvg,
              CAST(206835 - (1015 * CAST(tw AS HUGEINT)) // ts
                - (84600 * CAST(tvg AS HUGEINT)) // tw AS BIGINT)
                AS flesch_milli,
              CAST((390 * CAST(tw AS HUGEINT)) // ts
                + (11800 * CAST(tvg AS HUGEINT)) // tw
                - 15590 AS BIGINT) AS fk_grade_milli
            FROM g ORDER BY 1"""))

  // ------------------------------------------------------------------- x350
  // Bloom-filter sizing advisor — the table read before committing x39's
  // decontamination bloom to an (m bits, k hashes) shape: for every
  // config on the menu (m ∈ {2¹⁷, 2¹⁸, 2¹⁹} × k ∈ {2, 4}), build the
  // filter over the bench set's 6-gram keys with the x334 md5-derived
  // positions (deterministic, so the whole table is cross-engine exact),
  // probe it with the corpus shingles that are NOT true bench members,
  // and report measured false positives, fill ratio and bits/key — the
  // empirical (m, k) trade-off measured instead of assumed, x340's
  // advisor pattern applied to the Bloom tier. One md5 evaluation per
  // (key, j); the m sweep is a modulus, not a re-hash.
  //
  // Scale shape: vocabulary-sized distincts (bench keys, probe keys);
  // the config explode multiplies only those skinny tables (×12 rows
  // max); bitsets stay (config, position) pairs — the 2¹⁹ ceiling keeps
  // every bitset broadcast-sized by construction, and at production m
  // the same plan holds because the bitset is bounded by m, not by the
  // corpus.
  private val x350 = GQuery(
    "x350_bloom_size_advisor", "ext-text bloom sizing advisor",
    (s, dir) => {
      // round 15: fan-out measured and REVERTED here (2.18 -> 2.72 s —
      // the bitset/probe stages downstream are distinct-bounded and the
      // wider shingle stage bought nothing)
      val sh = word6grams(s, dir)
      val benchG = sh.where(col("doc_id") < BenchBound)
        .select("g").distinct().localCheckpoint(true)
      val probeG = sh.where(col("doc_id") >= BenchBound)
        .select("g").distinct()
        .join(benchG.withColumn("in_bench", lit(1L)), Seq("g"), "left")
        .where(col("in_bench").isNull)
        .select("g")
      def positions(keys: org.apache.spark.sql.DataFrame) = keys
        .select(col("g"), explode(expr(
          """transform(sequence(0, 3), j -> named_struct(
               'j', CAST(j AS BIGINT),
               'h', CAST(conv(substring(md5(concat(j, ':', g)), 17, 16),
                 16, 10) AS DECIMAL(38, 0))))""")).as("x"))
        .select(col("g"), col("x.j").as("j"), col("x.h").as("h"))
        .select(col("g"), col("j"),
          explode(expr("array(131072L, 262144L, 524288L)")).as("m"),
          col("h"))
        .withColumn("p", expr("CAST(h % m AS BIGINT)"))
        .select(col("g"), col("m"), col("j"), col("p"),
          explode(expr("array(2L, 4L)")).as("k"))
        .where(col("j") < col("k"))
      val benchPos = positions(benchG).localCheckpoint(true)
      val bits = benchPos.select("m", "k", "p").distinct()
        .withColumn("bit_set", lit(1L))
      val keyStats = benchPos.groupBy(col("m"), col("k"))
        .agg(countDistinct(col("g")).as("n_keys"),
          countDistinct(col("p")).as("bits_used"))
      val perConf = positions(probeG)
        .join(broadcast(bits), Seq("m", "k", "p"), "left")
        .groupBy(col("g"), col("m"), col("k"))
        .agg((min(coalesce(col("bit_set"), lit(0L))) === 1L).as("fp"))
        .groupBy(col("m"), col("k"))
        .agg(count(lit(1)).as("n_probes"),
          sum(when(col("fp"), 1L).otherwise(0L)).as("n_fp"))
      keyStats.join(perConf, Seq("m", "k"))
        .select(col("m").as("m_bits"), col("k").as("k_hashes"),
          col("n_keys"), col("bits_used"),
          expr("cast((1000 * bits_used) div m as bigint)").as("fill_milli"),
          expr("cast(m div n_keys as bigint)").as("bits_per_key"),
          col("n_probes"), col("n_fp"),
          expr("cast((1000000 * n_fp) div n_probes as bigint)")
            .as("fpp_micro"))
        .orderBy("m_bits", "k_hashes")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents),
            sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                     range(len(w) - 5),
                     i -> array_to_string(w[i + 1 : i + 6], ' ')))) AS g
                   FROM w WHERE len(w) >= 6),
            bench AS (SELECT DISTINCT g FROM sh WHERE doc_id < 50),
            probe AS (SELECT DISTINCT g FROM sh WHERE doc_id >= 50
                      AND g NOT IN (SELECT g FROM bench)),
            confs AS (SELECT m, k
                      FROM (SELECT unnest([131072, 262144, 524288]) AS m)
                      CROSS JOIN (SELECT unnest([2, 4]) AS k)),
            bpos AS (SELECT b.g, c.m, c.k, j,
                       CAST(CAST(CONCAT('0x', substr(md5(CAST(j AS VARCHAR)
                           || ':' || b.g), 17, 16)) AS UBIGINT)
                         % c.m AS BIGINT) AS p
                     FROM bench b CROSS JOIN confs c
                     CROSS JOIN (SELECT unnest(range(4)) AS j)
                     WHERE j < c.k),
            bits AS (SELECT DISTINCT m, k, p FROM bpos),
            kstats AS (SELECT m, k,
                         CAST(COUNT(DISTINCT g) AS BIGINT) AS n_keys,
                         CAST(COUNT(DISTINCT p) AS BIGINT) AS bits_used
                       FROM bpos GROUP BY 1, 2),
            ppos AS (SELECT pr.g, c.m, c.k, j,
                       CAST(CAST(CONCAT('0x', substr(md5(CAST(j AS VARCHAR)
                           || ':' || pr.g), 17, 16)) AS UBIGINT)
                         % c.m AS BIGINT) AS p
                     FROM probe pr CROSS JOIN confs c
                     CROSS JOIN (SELECT unnest(range(4)) AS j)
                     WHERE j < c.k),
            hits AS (SELECT ppos.g, ppos.m, ppos.k,
                       MIN(CASE WHEN bits.p IS NULL THEN 0 ELSE 1 END) = 1
                         AS fp
                     FROM ppos LEFT JOIN bits
                       ON ppos.m = bits.m AND ppos.k = bits.k
                          AND ppos.p = bits.p
                     GROUP BY 1, 2, 3),
            pc AS (SELECT m, k, CAST(COUNT(*) AS BIGINT) AS n_probes,
                     CAST(SUM(CASE WHEN fp THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_fp
                   FROM hits GROUP BY 1, 2)
            SELECT CAST(ks.m AS BIGINT) AS m_bits,
              CAST(ks.k AS BIGINT) AS k_hashes,
              ks.n_keys, ks.bits_used,
              CAST((1000 * ks.bits_used) // ks.m AS BIGINT) AS fill_milli,
              CAST(ks.m // ks.n_keys AS BIGINT) AS bits_per_key,
              pc.n_probes, pc.n_fp,
              CAST((1000000 * pc.n_fp) // pc.n_probes AS BIGINT) AS fpp_micro
            FROM kstats ks JOIN pc ON ks.m = pc.m AND ks.k = pc.k
            ORDER BY 1, 2"""))

  // ------------------------------------------------------------------- x364
  // Good–Turing frequency table (Good 1953) — x258 reads the two HEADLINE
  // numbers off the frequency-of-frequencies (Chao1 richness, P₀ unseen
  // mass); this tabulates the WHOLE smoothing table an n-gram LM
  // (x47/x144) actually consumes: per language and observed count r, the
  // species count N_r and the Good–Turing adjusted count
  // r* = (r+1)·N_{r+1}/N_r in millis — one integer division per cell.
  // Raw GT semantics are kept honestly: a missing successor count
  // (N_{r+1} = 0, detected by a gap-aware lead over the r domain) makes
  // r* = 0, the raw estimator's known deficiency the smoothed variants
  // (Katz, simple-GT) patch — emitting the raw table is the point; the
  // patch is a modeling choice downstream. Reported for r ≤ 20, the
  // band where GT smoothing is actually applied (higher counts use raw
  // r); the lead() is computed BEFORE the band filter so the last kept
  // row still sees its successor. The band is the 20 SMALLEST OBSERVED
  // counts per language (a rank, not an absolute r ≤ 20): "low
  // frequency" is relative to the corpus — a small fixture's rarest
  // words are singletons, a 10× one's may start at r = 27 — and an
  // absolute cutoff silently empties the table as the corpus grows
  // (caught at sf0.1).
  //
  // Scale shape: one token scan → (lang, token) count (map-side
  // combinable) → (lang, r) rollup — at most max-count rows per
  // language — then lang-partitioned windows on that count-domain table.
  private val x364 = GQuery(
    "x364_good_turing", "ext-text smoothing good-turing table",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = docs(s, dir)
        .select(col("lang"), explode(tokens).as("tok"))
        .groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("c"))
      val nr = counts.groupBy(col("lang"), col("c").as("r"))
        .agg(count(lit(1)).as("n_r"))
      val w = Window.partitionBy("lang").orderBy("r")
      nr.withColumn("next_r", lead(col("r"), 1).over(w))
        .withColumn("next_n", lead(col("n_r"), 1).over(w))
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("r_star_milli", expr(
          """case when next_r = r + 1
               then (1000 * (r + 1) * next_n) div n_r
             else 0L end"""))
        .where(col("rk") <= 20)
        .select(col("lang"), col("r"), col("n_r"), col("r_star_milli"))
        .orderBy("lang", "r")
    },
    Some("""WITH tok AS (
              SELECT lang, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            counts AS (
              SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
              FROM tok GROUP BY 1, 2),
            nr AS (
              SELECT lang, c AS r, CAST(COUNT(*) AS BIGINT) AS n_r
              FROM counts GROUP BY 1, 2),
            l AS (
              SELECT *,
                lead(r) OVER (PARTITION BY lang ORDER BY r) AS next_r,
                lead(n_r) OVER (PARTITION BY lang ORDER BY r) AS next_n,
                ROW_NUMBER() OVER (PARTITION BY lang ORDER BY r) AS rk
              FROM nr)
            SELECT lang, r, n_r,
              CASE WHEN next_r = r + 1
                THEN (1000 * (r + 1) * next_n) // n_r
                ELSE 0 END AS r_star_milli
            FROM l WHERE rk <= 20 ORDER BY lang, r"""))

  // ------------------------------------------------------------------- x370
  // Context-length quantiles, TOKEN-weighted — the max_len planning
  // table behind x33/x85's packing and any truncation policy: for each
  // target coverage p, the smallest document length L such that docs of
  // length ≤ L hold ≥ p of the corpus's TOKEN mass (the doc-weighted
  // quantile x54's histogram implies answers a different question when
  // long docs carry most tokens — which they do by construction). The
  // lower-quantile convention and the cumulative-grid shape are x240's
  // (first grid row whose cumulative weight crosses the cross-multiplied
  // threshold); a second column reports the DOC share the same cutoff
  // covers, making the "1 % of docs hold the tail 10 % of tokens" gap
  // readable per row. Exact integers throughout.
  //
  // Scale shape: one doc scan to the length-domain grid (each doc of
  // length ℓ contributes ℓ tokens, so the grid aggregate is
  // map-side-combinable counts), cumulative windows over the GRID, a
  // 5-value explode inside the grid, a join-back on the winning length.
  private val x370 = GQuery(
    "x370_context_length_quantiles", "ext-text packing max-len quantiles",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wCum = Window.orderBy("len")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val cum = docs(s, dir)
        .select(size(tokens).cast("long").as("len"))
        .groupBy(col("len")).agg(count(lit(1)).as("docs"))
        .withColumn("toks", col("len") * col("docs"))
        .withColumn("cd", sum(col("docs")).over(wCum))
        .withColumn("ct", sum(col("toks")).over(wCum))
        .withColumn("td", sum(col("docs")).over(wAll))
        .withColumn("tt", sum(col("toks")).over(wAll))
        .localCheckpoint(true) // threshold scan + winner join-back
      val win = cum
        .select(col("len"), col("ct"), col("tt"),
          explode(expr("array(500L, 750L, 900L, 950L, 990L)")).as("p_milli"))
        .where(col("ct") * 1000 >= col("p_milli") * col("tt"))
        .groupBy(col("p_milli")).agg(min(col("len")).as("max_len"))
      win.join(cum.select(col("len").as("max_len"), col("cd"), col("ct"),
          col("td"), col("tt")), Seq("max_len"))
        .select(col("p_milli"), col("max_len"),
          expr("cast((1000 * ct) div tt as bigint)").as("tokens_covered_milli"),
          expr("cast((1000 * cd) div td as bigint)").as("docs_covered_milli"))
        .orderBy("p_milli")
    },
    Some("""WITH grid AS (
              SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS len,
                CAST(COUNT(*) AS BIGINT) AS docs
              FROM documents GROUP BY 1),
            cum AS (
              SELECT len, docs, len * docs AS toks,
                CAST(SUM(docs) OVER (ORDER BY len
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cd,
                CAST(SUM(len * docs) OVER (ORDER BY len
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS ct,
                CAST(SUM(docs) OVER () AS BIGINT) AS td,
                CAST(SUM(len * docs) OVER () AS BIGINT) AS tt
              FROM grid),
            win AS (
              SELECT p_milli, MIN(len) AS max_len
              FROM cum CROSS JOIN
                (SELECT CAST(unnest([500, 750, 900, 950, 990]) AS BIGINT)
                   AS p_milli)
              WHERE ct * 1000 >= p_milli * tt
              GROUP BY 1)
            SELECT p_milli, CAST(max_len AS BIGINT) AS max_len,
              CAST((1000 * ct) // tt AS BIGINT) AS tokens_covered_milli,
              CAST((1000 * cd) // td AS BIGINT) AS docs_covered_milli
            FROM win JOIN cum ON cum.len = win.max_len
            ORDER BY p_milli"""))

  // The one per-language length Gini of x399 and x403 (the histogram
  // rank-walk; the scaladocs below give the identity and scale shape).
  private def lengthGini(d: DataFrame): DataFrame = {
    val wPrev = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n_chars"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    d
      .groupBy(col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cprev", coalesce(sum(col("c")).over(wPrev), lit(0L)))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_docs"),
        sum(col("n_chars").cast("long") * col("c")).as("total_chars"),
        sum(expr("""cast(n_chars as decimal(38,0))
              * (c * cast(cprev as decimal(38,0))
                 + (cast(c as decimal(38,0)) * (c + 1)) div 2)"""))
          .as("wsum"))
      .select(col("lang"), col("n_docs"), col("total_chars"),
        expr("""cast((2000 * wsum)
                  div (cast(n_docs as decimal(38,0)) * total_chars)
                - (1000 * (n_docs + 1)) div n_docs as bigint)""")
          .as("gini_milli"))
      .orderBy("lang")
  }

  // ------------------------------------------------------------------- x399
  // Per-language length-inequality profile (Gini 1912, via the exact
  // rank-sum identity G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over values
  // sorted ascending) — the curation readout behind mixture decisions:
  // a language whose char mass concentrates in few huge documents (high
  // Gini) needs chunking/repacking before sampling-by-document is fair,
  // while a flat language can be sampled directly. Milli-quantized by
  // integer division: each of the two terms floors identically in both
  // engines, so the difference is exact. Ties cannot skew the sum —
  // Σ i·xᵢ over a tie run depends only on the SUM of ranks in the run
  // (xᵢ is constant there), which is permutation-invariant — and the
  // explicit (n_chars, doc_id) order keeps the window itself
  // deterministic anyway. DECIMAL(38,0) headroom on rank·chars products and
  // the n·total divisor (both ~10¹⁸⁺ at 10⁹-document languages).
  //
  // Scale shape (round 15 — the r14 VERDICT's task 3): the live path IS
  // the x162-style histogram rank-walk x403 landed in round 14 — the
  // per-document sort window this row shipped with (10⁹ rows through one
  // partition per language at 10⁹ docs/language) is replaced by the
  // map-side-combinable (lang, n_chars) histogram + grid-sized cumulative
  // window. Row-identical by the tie-run identity in the paragraph above
  // (Σ i·xᵢ over a tie run depends only on the SUM of the ranks in the
  // run); CurationSpec pins x399 == x403 and the DuckDB oracle (kept in
  // the original window form) hash-checks the substitution.
  private val x399 = GQuery(
    "x399_doc_length_gini", "ext-text corpus length-inequality gini",
    (s, dir) => lengthGini(docs(s, dir)),
    Some("""WITH r AS (
              SELECT lang, n_chars,
                CAST(ROW_NUMBER() OVER (PARTITION BY lang
                  ORDER BY n_chars, doc_id) AS BIGINT) AS rn
              FROM documents),
            g AS (
              SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                SUM(CAST(rn AS HUGEINT) * n_chars) AS wsum
              FROM r GROUP BY 1)
            SELECT lang, n_docs, total_chars,
              CAST((2000 * wsum) // (CAST(n_docs AS HUGEINT) * total_chars)
                - (1000 * (n_docs + 1)) // n_docs AS BIGINT) AS gini_milli
            FROM g ORDER BY lang"""))

  // ------------------------------------------------------------------- x403
  // x399's 100 TB execution path, landed (r13 VERDICT task 2a): the
  // SAME per-language Gini via the SAME rank-sum identity, computed by
  // the x162-style HISTOGRAM RANK-WALK instead of a per-document sort
  // window. The documents with length ℓ occupy the contiguous rank run
  // (C_<ℓ + 1) .. (C_<ℓ + c_ℓ) in the ascending order, and Σ i·xᵢ over a
  // tie run depends only on the SUM of the ranks in the run (xᵢ = ℓ is
  // constant there), which is c_ℓ·C_<ℓ + c_ℓ(c_ℓ+1)/2 — so
  // wsum = Σ_ℓ ℓ·(c_ℓ·C_<ℓ + c_ℓ(c_ℓ+1)/2) from cumulative histogram
  // counts alone, bit-identical to x399's per-document window (the tie
  // argument in x399's scaladoc, now the execution strategy; CurationSpec
  // pins x403 == x399 row-for-row on the fixture).
  //
  // Scale shape — why this is the 100 TB form: the corpus scan reduces to
  // a map-side-combinable (lang, n_chars) count, so the only shuffled
  // data is the HISTOGRAM GRID (bounded by the distinct-length domain per
  // language — ~10⁵-10⁶ buckets however many billion documents), the
  // cumulative window runs over that grid, and the rollup is grid-sized;
  // x399's per-document sort window — 10⁹ rows through one partition per
  // language at 10⁹ docs/language, the skew-prone shuffle the rest of the
  // engine avoids — never happens. DECIMAL(38,0)/HUGEINT headroom on the
  // c·C_prev and c(c+1)/2 products (both ~n² at a degenerate single-
  // length language) and on the rank·chars sum, BIGINT output casts.
  private val x403 = GQuery(
    "x403_length_gini_hist", "ext-text corpus length-gini histogram-rank-walk",
    (s, dir) => lengthGini(docs(s, dir)),
    Some("""WITH h AS (
              SELECT lang, n_chars, CAST(COUNT(*) AS BIGINT) AS c
              FROM documents GROUP BY 1, 2),
            w AS (
              SELECT lang, n_chars, c,
                CAST(COALESCE(SUM(c) OVER (PARTITION BY lang ORDER BY n_chars
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cprev
              FROM h),
            g AS (
              SELECT lang, CAST(SUM(c) AS BIGINT) AS n_docs,
                CAST(SUM(CAST(n_chars AS HUGEINT) * c) AS BIGINT)
                  AS total_chars,
                SUM(CAST(n_chars AS HUGEINT)
                  * (c * CAST(cprev AS HUGEINT)
                     + (CAST(c AS HUGEINT) * (c + 1)) // 2)) AS wsum
              FROM w GROUP BY 1)
            SELECT lang, n_docs, total_chars,
              CAST((2000 * wsum) // (CAST(n_docs AS HUGEINT) * total_chars)
                - (1000 * (n_docs + 1)) // n_docs AS BIGINT) AS gini_milli
            FROM g ORDER BY lang"""))

  // chronological registry order (r13 ADVICE #3: x399 was prepended for
  // no stated reason; additions append)
  val queries: Seq[GQuery] =
    Seq(x10, x10b, x11, x12, x13, x14, x15, x18, x20, x21, x23, x24, x25, x29,
      x30, x31, x33, x39, x53, x54, x56, x61, x63, x69, x80, x85, x89, x101,
      x110, x113, x138, x173, x207, x224, x230, x258, x283, x284, x290, x295,
      x301, x302, x303, x306, x307, x315, x317, x320, x326, x329, x334, x336,
      x339, x343, x347, x350, x364, x370, x399, x403)
}
