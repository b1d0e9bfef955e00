package graft.queries

import graft.{GQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Record-linkage / fuzzy-matching operators over `documents`: the three
  * classic sub-quadratic blocking schemes, each verified end-to-end against
  * an exact relational oracle.
  *
  *  - x142: FastSS deletion-neighborhood blocking for edit-distance joins
  *    (Bocek et al., "Fast Similarity Search in Large Dictionaries", 2007)
  *  - x145: shingle-containment join (Broder's containment coefficient —
  *    the ASYMMETRIC near-dup measure Jaccard misses: a document pasted
  *    inside a bigger one scores low Jaccard but containment ~1)
  *  - x146: sorted-neighborhood blocking (Hernandez & Stolfo, SIGMOD'95)
  *
  * Scale design: none of the three ever forms the quadratic pair space.
  * Blocking emits O(n · block_width) candidate rows keyed so the verify
  * join is an equi-join; verification (levenshtein / set intersection)
  * touches only candidates. This is the standard entity-resolution shape
  * at 100 TB: block -> equi-shuffle -> verify narrow.
  */
object Linkage {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "documents")

  // ------------------------------------------------------------------- x142
  // Edit-distance <= 1 self-join over the corpus vocabulary via FastSS:
  // each token emits itself plus its |t| single-character deletions; two
  // tokens within edit distance 1 (Levenshtein: substitution OR indel)
  // necessarily share a variant, so an equi-join on the variant string
  // finds every true pair (completeness), and a levenshtein() check on the
  // O(candidates) join output removes the false ones (e.g. "abc"/"acb"
  // share variant "ac" but are distance 2 — blocking is complete, not
  // sound, hence the verify).
  //
  // Scale shape: a vocabulary of V tokens of length <= L emits <= V(L+1)
  // variant rows — linear, vs the V² cross join the oracle (safely
  // restricted by |len diff| <= 1, which ed <= 1 implies) pays; the join
  // key is the variant string, so skew concentrates on short popular
  // variants — bounded here by the length >= 4 floor. Verification is a
  // narrow per-row levenshtein on candidates only.
  //
  // The fixture vocabulary is 30 synthetic words with NO natural
  // distance-1 pairs, so the query plants one deterministic typo per
  // doc_id residue — a deletion ("tabl"), an insertion ("scann"), and a
  // substitution ("quary") — and must link each to its source word: the
  // x34 plant-then-detect discipline, covering all three edit kinds.
  private def plantTypos(text: org.apache.spark.sql.Column) =
    concat(text,
      when(pmod(col("doc_id"), lit(5)) === 1, lit(" tabl"))
        .when(pmod(col("doc_id"), lit(5)) === 2, lit(" scann"))
        .when(pmod(col("doc_id"), lit(5)) === 3, lit(" quary"))
        .otherwise(lit("")))

  private val x142 = GQuery(
    "x142_fuzzy_join", "ext-linkage fastss-edit-distance-join",
    (s, dir) => {
      val toks = docs(s, dir)
        .select(explode(split(lower(plantTypos(col("text"))), "[^a-z]+")).as("tok"))
        .where(length(col("tok")).between(4, 20))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val vocab = toks.localCheckpoint(true) // one scan; reused on both sides
      // tok + its single-deletion variants, tagged with deletion depth
      val variants = vocab.select(col("tok"),
          explode(concat(array(col("tok")),
            expr("transform(sequence(1, length(tok)), " +
              "i -> concat(substring(tok, 1, i - 1), substring(tok, i + 1)))")))
            .as("variant"))
        .distinct() // a token with repeated chars yields duplicate variants
      val cands = variants.as("a")
        .join(variants.as("b"), Seq("variant"))
        .where(col("a.tok") < col("b.tok"))
        .select(col("a.tok").as("t1"), col("b.tok").as("t2"))
        .distinct()
      cands
        .where(levenshtein(col("t1"), col("t2")) <= 1)
        .join(vocab.select(col("tok").as("t1"), col("freq").as("f1")), "t1")
        .join(vocab.select(col("tok").as("t2"), col("freq").as("f2")), "t2")
        .select(col("t1"), col("t2"), col("f1"), col("f2"))
        .orderBy("t1", "t2")
    },
    Some("""WITH planted AS (
              SELECT text || CASE doc_id % 5
                WHEN 1 THEN ' tabl' WHEN 2 THEN ' scann'
                WHEN 3 THEN ' quary' ELSE '' END AS text
              FROM documents),
            toks AS (
              SELECT tok, COUNT(*) AS freq FROM (
                SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
                FROM planted)
              WHERE length(tok) BETWEEN 4 AND 20 GROUP BY tok)
            SELECT a.tok AS t1, b.tok AS t2, a.freq AS f1, b.freq AS f2
            FROM toks a JOIN toks b
              ON b.tok > a.tok
             AND length(b.tok) BETWEEN length(a.tok) - 1 AND length(a.tok) + 1
            WHERE levenshtein(a.tok, b.tok) <= 1
            ORDER BY t1, t2"""))

  // ------------------------------------------------------------------- x145
  // Containment join: for ordered doc pairs sharing word-3-gram shingles,
  // containment(a in b) = |Sa ∩ Sb| / |Sa|. Jaccard (x05) is symmetric and
  // punishes size mismatch; containment is the measure for "this document
  // IS that snippet, wrapped in boilerplate" — the dominant duplication
  // mode in scraped training corpora (quote inclusion, template wrap).
  //
  // Shingles appearing in more than MaxDf documents are dropped on BOTH
  // sides (operator semantics, mirrored in the oracle): boilerplate
  // shingles otherwise create quadratic hot blocks while carrying no
  // identity signal — the standard common-shingle cutoff.
  //
  // Scale shape: ONE equi-shuffle on the shingle gathers each rare
  // shingle's doc list, and candidate pairs are generated IN PLACE from
  // that list (group-then-pair — no self-join, so the posting list crosses
  // the wire once instead of twice and there is no join-probe pass); the
  // df cap bounds every shingle's pair fan-out to <= MaxDf², and the
  // per-pair intersection count partial-aggregates. Candidate pairs
  // (sharing >= 1 rare shingle) are the only pairs ever materialized.
  // (Profiled at sf0.1: the dominant cost was never the join — it was the
  // regex split re-running per transform element before the toks hoist
  // below; 6.1 s -> 2.3 s measured, stage-by-stage in the profile.)
  private val MaxDf = 50

  private val x145 = GQuery(
    "x145_containment_join", "ext-linkage shingle-containment",
    (s, dir) => {
      // tokenize ONCE into its own projection: referencing split() inside
      // the transform lambda would re-run the regex split per element —
      // O(tokens²) regex work per document (measured: 8x the whole rest
      // of the query). CollapseProject keeps the hoist (it never inlines
      // a non-cheap expression referenced more than once).
      val sh = docs(s, dir)
        .select(col("doc_id"), split(lower(col("text")), "[^a-z]+").as("toks"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, greatest(size(toks) - 3, 0)), " +
            "i -> concat_ws(' ', slice(toks, i, 3)))"))
          .as("shingle"))
        .where(length(col("shingle")) > 0)
        .distinct()
      val byShingle = sh.groupBy("shingle")
        .agg(collect_list(col("doc_id")).as("ds"))
        .where(size(col("ds")) <= MaxDf)
        .localCheckpoint(true) // one build feeds pair expansion AND sizes
      val inter = byShingle.select(explode(expr(
          "filter(flatten(transform(ds, a -> transform(ds, b -> struct(a AS d1, b AS d2)))), " +
            "p -> p.d1 < p.d2)")).as("p"))
        .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
        .agg(count(lit(1)).as("inter"))
      val sizes = byShingle.select(explode(col("ds")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("sz"))
      inter
        .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
        .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
        .select(col("d1"), col("d2"), col("inter"), col("sz1"), col("sz2"),
          (col("inter").cast("double") / least(col("sz1"), col("sz2")).cast("double"))
            .as("containment"))
        .where(col("containment") >= 0.5)
        .orderBy("d1", "d2")
    },
    Some(s"""WITH sh AS (
               SELECT DISTINCT doc_id, shingle FROM (
                 SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(toks) - 3, 0) + 1),
                     i -> array_to_string(toks[i : i + 2], ' '))) AS shingle
                 FROM (SELECT doc_id,
                         string_split_regex(lower(text), '[^a-z]+') AS toks
                       FROM documents))
               WHERE length(shingle) > 0),
             rare AS (SELECT shingle FROM sh GROUP BY shingle
                      HAVING COUNT(*) <= $MaxDf),
             kept AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
             sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
             inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
                       FROM kept a JOIN kept b USING (shingle)
                       WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
             SELECT d1, d2, inter, s1.sz AS sz1, s2.sz AS sz2,
               CAST(inter AS DOUBLE) / CAST(least(s1.sz, s2.sz) AS DOUBLE)
                 AS containment
             FROM inter
             JOIN sizes s1 ON s1.doc_id = d1
             JOIN sizes s2 ON s2.doc_id = d2
             WHERE CAST(inter AS DOUBLE) / CAST(least(s1.sz, s2.sz) AS DOUBLE) >= 0.5
             ORDER BY d1, d2"""))

  // ------------------------------------------------------------------- x146
  // Sorted-neighborhood blocking WITHIN key blocks: records are blocked on
  // a cheap normalized key (first 8 normalized chars), sorted inside each
  // block, and only pairs within `Win` positions of each other in the
  // block's sort order are verified — O(n log n + n·w) candidates vs O(n²).
  //
  // The window is PARTITIONED by the block key (the Hernandez-Stolfo
  // multi-pass refinement): an unpartitioned global-sort lead() would
  // collapse Spark's window into one partition — the single-partition
  // bottleneck this engine never ships. Blocked, the exchange is a normal
  // hash shuffle on the key, every block's neighborhood scan runs in
  // parallel, and at 100 TB block skew is bounded by the key's prefix
  // entropy (lengthen the key or add a second pass with a different key —
  // the standard multi-pass SNM — if a block outgrows an executor).
  //
  // Verify = levenshtein of the 24-char normalized prefixes <= 3
  // (near-identical openings — the scraped-corpus "same article,
  // different tail" signature).
  private val Win = 2

  /** x146/x160's blocking: the 24-char normalized prefix `norm` of each
    * document, keyed by its first 8 chars; [[blockOrder]] sorts a block.
    */
  private def blockKeyed(s: SparkSession, dir: String): DataFrame = docs(s, dir)
    .select(col("doc_id"),
      substring(regexp_replace(lower(col("text")), "[^a-z0-9]", ""), 1, 24)
        .as("norm"))
    .withColumn("key", substring(col("norm"), 1, 8))

  private def blockOrder = org.apache.spark.sql.expressions.Window
    .partitionBy(col("key")).orderBy(col("norm"), col("doc_id"))

  private val x146 = GQuery(
    "x146_sorted_neighborhood", "ext-linkage sorted-neighborhood",
    (s, dir) => {
      val w = blockOrder
      val keyed = blockKeyed(s, dir)
      val paired = (1 to Win).map { d =>
        keyed
          .withColumn("doc2", lead(col("doc_id"), d).over(w))
          .withColumn("norm2", lead(col("norm"), d).over(w))
          .where(col("doc2").isNotNull)
      }.reduce(_ unionByName _)
      paired
        .where(levenshtein(col("norm"), col("norm2")) <= 3)
        .select(col("doc_id").as("d1"), col("doc2").as("d2"),
          levenshtein(col("norm"), col("norm2")).cast("long").as("dist"))
        .orderBy("d1", "d2")
    },
    Some(s"""WITH keyed AS (
               SELECT doc_id,
                 substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24)
                   AS norm,
                 substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 8)
                   AS key
               FROM documents),
             pos AS (SELECT doc_id, norm, key,
                       row_number() OVER (PARTITION BY key
                                          ORDER BY norm, doc_id) AS rn
                     FROM keyed),
             cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.norm AS n1,
                        b.norm AS n2
                      FROM pos a JOIN pos b
                        ON a.key = b.key
                       AND b.rn > a.rn AND b.rn <= a.rn + $Win)
             SELECT d1, d2, levenshtein(n1, n2) AS dist
             FROM cand WHERE levenshtein(n1, n2) <= 3
             ORDER BY d1, d2"""))

  // ------------------------------------------------------------------- x159
  // The native Jaro-Winkler kernel cross-engine-verified: similar token
  // pairs over the x142 planted vocabulary, scored by
  // [[graft.functions.JaroWinkler]] on the engine side and DuckDB's own
  // jaro_winkler_similarity in the oracle — two INDEPENDENT
  // implementations of the measure hash-agreeing on every pair (micro-unit
  // integers; the convention match is documented on the kernel). The
  // planted deletion/insertion/substitution typos all clear the 0.85 bar
  // against their source words, so the row set exercises every edit kind.
  //
  // Scale shape: the fixture vocabulary is tiny so the pair space is a
  // broadcast nested loop; at corpus scale JW is the VERIFY stage behind
  // x142/x146's blocking, never a pair generator.
  private val x159 = GQuery(
    "x159_jaro_winkler", "ext-linkage string-similarity custom-expression",
    (s, dir) => {
      val toks = docs(s, dir)
        .select(explode(split(lower(plantTypos(col("text"))), "[^a-z]+")).as("tok"))
        .where(length(col("tok")).between(4, 20))
        .distinct()
      val jw = graft.functions.HashFunctions.jaroWinkler(col("t1"), col("t2"))
      toks.select(col("tok").as("t1"))
        .crossJoin(broadcast(toks.select(col("tok").as("t2"))))
        .where(col("t1") < col("t2"))
        .where(jw >= 0.85)
        .select(col("t1"), col("t2"),
          round(jw * 1000000, 0).cast("long").as("jw_micro"))
        .orderBy("t1", "t2")
    },
    Some("""WITH planted AS (
              SELECT text || CASE doc_id % 5
                WHEN 1 THEN ' tabl' WHEN 2 THEN ' scann'
                WHEN 3 THEN ' quary' ELSE '' END AS text
              FROM documents),
            toks AS (
              SELECT DISTINCT tok FROM (
                SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
                FROM planted)
              WHERE length(tok) BETWEEN 4 AND 20)
            SELECT a.tok AS t1, b.tok AS t2,
              CAST(round(jaro_winkler_similarity(a.tok, b.tok) * 1000000, 0)
                AS BIGINT) AS jw_micro
            FROM toks a JOIN toks b ON b.tok > a.tok
            WHERE jaro_winkler_similarity(a.tok, b.tok) >= 0.85
            ORDER BY t1, t2"""))

  // ------------------------------------------------------------------- x160
  // Entity resolution END-TO-END, fully oracled: sorted-neighborhood
  // blocking (x146's key-partitioned windows) → two-criterion match
  // verify (levenshtein <= 3 AND native Jaro-Winkler >= 0.9 on the
  // normalized prefixes — edit distance catches typos, JW weighs the
  // identity-bearing prefix) → entity clustering by SIX unrolled
  // min-label propagation rounds (the Pregel CC superstep, the
  // x124/x139 unrolling discipline: both engines run exactly the same
  // six rounds, so the hash match holds round-for-round regardless of
  // convergence) → canonical record = min doc_id per cluster.
  //
  // Convergence is SELF-CERTIFYING: a seventh round runs and the output's
  // `converged` column reports whether it changed anything — the oracle
  // computes the same flag, so the claim "six rounds sufficed on this
  // corpus" is itself hash-verified, not asserted (if the fixture ever
  // grows a longer chain, the row flips visibly instead of silently
  // truncating a cluster).
  //
  // Scale shape: blocking and verify are x146/x159's shapes; propagation
  // joins touch only the (tiny) matched-pair edge list and doc_id labels
  // — text never enters the loop. The production form for unbounded
  // cluster diameters is the O(log n)-round hashed-min CC behind x22;
  // this unrolled form is the ORACLED twin on bounded-diameter data.
  private val x160 = GQuery(
    "x160_entity_resolution", "ext-linkage entity-resolution composite",
    (s, dir) => {
      val w = blockOrder
      val keyed = blockKeyed(s, dir)
      val jw = graft.functions.HashFunctions.jaroWinkler(col("norm"), col("norm2"))
      val edges = (1 to Win).map { d =>
        keyed
          .withColumn("doc2", lead(col("doc_id"), d).over(w))
          .withColumn("norm2", lead(col("norm"), d).over(w))
          .where(col("doc2").isNotNull)
      }.reduce(_ unionByName _)
        .where(levenshtein(col("norm"), col("norm2")) <= 3 && jw >= 0.9)
        .select(col("doc_id").as("a"), col("doc2").as("b"))
        .localCheckpoint(true)
      val nodes = keyed.select(col("doc_id"))
      val sym = edges.unionByName(
        edges.select(col("b").as("a"), col("a").as("b")))
      def round(lbl: DataFrame): DataFrame =
        lbl.join(sym, lbl("doc_id") === sym("a"), "left")
          .join(lbl.select(col("doc_id").as("nb"), col("lbl").as("nlbl")),
            sym("b") === col("nb"), "left")
          .groupBy(lbl("doc_id"))
          .agg(least(min(col("lbl")), coalesce(min(col("nlbl")),
            min(col("lbl")))).as("lbl"))
      val l0 = nodes.select(col("doc_id"), col("doc_id").as("lbl"))
      val l6 = (1 to 6).foldLeft(l0)((l, _) => round(l).localCheckpoint(true))
      val l7 = round(l6)
      val changed = l6.select(col("doc_id"), col("lbl").as("l6"))
        .join(l7.select(col("doc_id"), col("lbl").as("l7")), "doc_id")
        .agg(sum(when(col("l6") =!= col("l7"), 1L).otherwise(0L)).cast("long")
          .as("n_changed"))
      val sizes = l6.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
      l6.join(sizes, "lbl")
        .crossJoin(broadcast(changed))
        .select(col("doc_id"), col("lbl").as("entity"), col("cluster_size"),
          (col("n_changed") === 0).as("converged"))
        .where(col("cluster_size") > 1) // resolved entities only
        .orderBy("doc_id")
    },
    Some(s"""WITH keyed AS (
               SELECT doc_id,
                 substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24)
                   AS norm,
                 substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 8)
                   AS key
               FROM documents),
             pos AS (SELECT doc_id, norm, key,
                       row_number() OVER (PARTITION BY key
                                          ORDER BY norm, doc_id) AS rn
                     FROM keyed),
             e0 AS (SELECT a.doc_id AS a, b.doc_id AS b
                    FROM pos a JOIN pos b
                      ON a.key = b.key AND b.rn > a.rn AND b.rn <= a.rn + $Win
                    WHERE levenshtein(a.norm, b.norm) <= 3
                      AND jaro_winkler_similarity(a.norm, b.norm) >= 0.9),
             sym AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
             l0 AS (SELECT doc_id, doc_id AS lbl FROM keyed),
             l1 AS (SELECT l.doc_id,
                      least(MIN(l.lbl), coalesce(MIN(n.lbl), MIN(l.lbl))) AS lbl
                    FROM l0 l LEFT JOIN sym s ON l.doc_id = s.a
                    LEFT JOIN l0 n ON s.b = n.doc_id GROUP BY l.doc_id),
             l2 AS (SELECT l.doc_id,
                      least(MIN(l.lbl), coalesce(MIN(n.lbl), MIN(l.lbl))) AS lbl
                    FROM l1 l LEFT JOIN sym s ON l.doc_id = s.a
                    LEFT JOIN l1 n ON s.b = n.doc_id GROUP BY l.doc_id),
             l3 AS (SELECT l.doc_id,
                      least(MIN(l.lbl), coalesce(MIN(n.lbl), MIN(l.lbl))) AS lbl
                    FROM l2 l LEFT JOIN sym s ON l.doc_id = s.a
                    LEFT JOIN l2 n ON s.b = n.doc_id GROUP BY l.doc_id),
             l4 AS (SELECT l.doc_id,
                      least(MIN(l.lbl), coalesce(MIN(n.lbl), MIN(l.lbl))) AS lbl
                    FROM l3 l LEFT JOIN sym s ON l.doc_id = s.a
                    LEFT JOIN l3 n ON s.b = n.doc_id GROUP BY l.doc_id),
             l5 AS (SELECT l.doc_id,
                      least(MIN(l.lbl), coalesce(MIN(n.lbl), MIN(l.lbl))) AS lbl
                    FROM l4 l LEFT JOIN sym s ON l.doc_id = s.a
                    LEFT JOIN l4 n ON s.b = n.doc_id GROUP BY l.doc_id),
             l6 AS (SELECT l.doc_id,
                      least(MIN(l.lbl), coalesce(MIN(n.lbl), MIN(l.lbl))) AS lbl
                    FROM l5 l LEFT JOIN sym s ON l.doc_id = s.a
                    LEFT JOIN l5 n ON s.b = n.doc_id GROUP BY l.doc_id),
             l7 AS (SELECT l.doc_id,
                      least(MIN(l.lbl), coalesce(MIN(n.lbl), MIN(l.lbl))) AS lbl
                    FROM l6 l LEFT JOIN sym s ON l.doc_id = s.a
                    LEFT JOIN l6 n ON s.b = n.doc_id GROUP BY l.doc_id),
             chg AS (SELECT CAST(SUM(CASE WHEN a.lbl <> b.lbl THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_changed
                     FROM l6 a JOIN l7 b USING (doc_id)),
             sizes AS (SELECT lbl, COUNT(*) AS cluster_size FROM l6 GROUP BY lbl)
             SELECT l6.doc_id, l6.lbl AS entity, sizes.cluster_size,
               (chg.n_changed = 0) AS converged
             FROM l6 JOIN sizes USING (lbl) CROSS JOIN chg
             WHERE sizes.cluster_size > 1
             ORDER BY l6.doc_id"""))

  // ------------------------------------------------------------------- x188
  // Soundex phonetic codes, cross-engine exact: Spark's native soundex()
  // (UTF8String.soundex — mapping "01230127022455012623017202" with
  // H/W TRANSPARENT (code '7' skips without touching the separator
  // state) and vowels/non-letters resetting it) replayed in the oracle
  // as a DuckDB recursive CTE that walks the same automaton character
  // by character (a '!' sentinel carries the non-letter -> reset-idx
  // branch the fixture's NATION_<k> names exercise). DuckDB ships no
  // soundex, so this row certifies a
  // nontrivial stateful string algorithm across engines the way x159
  // certified Jaro-Winkler — every (word, code) row hash-matches or the
  // automaton transcription is wrong. Domain: part-name vocabulary
  // (lowercase a-z words, the classic blocking-key input).
  //
  // Scale shape: soundex is a narrow per-row projection fused into the
  // scan; the distinct is one vocabulary-sized exchange.
  private val soundexCte =
    """WITH RECURSIVE words AS (
         SELECT w AS word FROM (
           SELECT unnest(string_split(p_name, ' ')) AS w FROM part
           UNION
           SELECT unnest(string_split(p_type, ' ')) AS w FROM part
           UNION
           SELECT unnest(string_split(n_name, ' ')) AS w FROM nation)
         WHERE length(w) > 0),
       s AS (
         SELECT word, upper(word) AS uw, 2 AS pos,
           substr(upper(word), 1, 1) AS sx,
           substr('01230127022455012623017202',
             ascii(substr(upper(word), 1, 1)) - 64, 1) AS idx
         FROM words
         UNION ALL
         SELECT word, uw, pos + 1,
           CASE WHEN code = '!' OR code = '7' OR code = '0' OR code = idx
                  OR length(sx) >= 4
             THEN sx ELSE sx || code END,
           CASE WHEN code = '!' THEN '0'
                WHEN code = '7' THEN idx ELSE code END
         FROM (
           SELECT word, uw, pos, sx, idx,
             CASE WHEN substr(uw, pos, 1) BETWEEN 'A' AND 'Z'
               THEN substr('01230127022455012623017202',
                 ascii(substr(uw, pos, 1)) - 64, 1)
               ELSE '!' END AS code
           FROM s WHERE pos <= length(uw)) t),
       sdx AS (
         SELECT word, rpad(sx, 4, '0') AS code
         FROM s WHERE pos = length(uw) + 1)"""

  /** Blocking-key vocabulary: part-name words (lowercase), part-type and
    * nation-name words (UPPERCASE — the automaton's uppercase path).
    */
  private def partWords(s: SparkSession, dir: String): DataFrame = {
    val part = Tables(s, dir, "part")
    part.select(explode(split(col("p_name"), " ")).as("word"))
      .union(part.select(explode(split(col("p_type"), " ")).as("word")))
      .union(Tables(s, dir, "nation")
        .select(explode(split(col("n_name"), " ")).as("word")))
      .where(length(col("word")) > 0)
      .distinct()
  }

  private val x188 = GQuery(
    "x188_soundex", "ext-linkage phonetic-code cross-engine",
    (s, dir) => partWords(s, dir)
      .select(col("word"), soundex(col("word")).as("code"))
      .orderBy("word"),
    Some(soundexCte + "\nSELECT word, code FROM sdx ORDER BY word"))

  // ------------------------------------------------------------------- x189
  // Phonetic blocking census: group the vocabulary by soundex code and
  // keep colliding blocks — the block-size table that decides whether
  // soundex is a usable blocking key for x146/x160's verify stage
  // (candidate pairs scale with Σ size², so the census IS the cost
  // model). Deterministic block exemplars via min/max word.
  private val x189 = GQuery(
    "x189_phonetic_blocks", "ext-linkage phonetic-blocking census",
    (s, dir) => partWords(s, dir)
      .groupBy(soundex(col("word")).as("code"))
      .agg(count(lit(1)).as("n_words"),
        min(col("word")).as("first_word"), max(col("word")).as("last_word"))
      .where(col("n_words") > 1)
      .orderBy("code"),
    Some(soundexCte +
      """
       SELECT code, CAST(COUNT(*) AS BIGINT) AS n_words,
         MIN(word) AS first_word, MAX(word) AS last_word
       FROM sdx GROUP BY code HAVING COUNT(*) > 1
       ORDER BY code"""))

  // ------------------------------------------------------------------- x305
  // Sparse TF-cosine near-dup pairs — the similarity measure between
  // x145's containment (asymmetric, multiplicity-blind) and x09's dense
  // embedding cosine: document pairs scored by the cosine of their
  // 3-gram TERM-FREQUENCY vectors, exactly. Multiplicity matters here —
  // a doc that repeats a template 10× is far from one containing it
  // once, which set-Jaccard cannot see. Everything stays integer-exact:
  // the score is cos²·10⁶ = (10⁶·dot²) div (‖a‖²·‖b‖²) (ranking by cos²
  // ≡ ranking by cos on non-negative TF vectors), the keep test
  // 2·dot² ≥ ‖a‖²·‖b‖² (cos ≥ √0.5), both with DECIMAL(38,0)/HUGEINT
  // headroom for the squared products.
  //
  // Scale shape: x145's group-then-pair inverted index — ONE equi-
  // shuffle on the 3-gram gathers each rare gram's (doc, tf) postings,
  // dot-product contributions are generated IN PLACE from the posting
  // list (bounded by the df cap ≤ 50² per gram) and partial-aggregate;
  // norms come from the same capped postings (operator semantics:
  // boilerplate grams above the cap leave BOTH the dots and the norms,
  // mirrored in the oracle). The fact table never self-joins.
  private val x305 = GQuery(
    "x305_sparse_cosine_pairs", "ext-linkage tf-cosine exact",
    (s, dir) => {
      val tf = Par.fanOutScan(docs(s, dir), "doc_id") // gram kernel fan-out
        .select(col("doc_id"), split(lower(col("text")), "[^a-z]+").as("toks"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, greatest(size(toks) - 3, 0)), " +
            "i -> concat_ws(' ', slice(toks, i, 3)))")).as("gram"))
        .where(length(col("gram")) > 0)
        .groupBy(col("doc_id"), col("gram"))
        .agg(count(lit(1)).as("tf"))
      val byGram = tf.groupBy("gram")
        .agg(collect_list(struct(col("doc_id"), col("tf"))).as("ps"))
        .where(size(col("ps")) <= MaxDf)
        .localCheckpoint(true) // one build feeds dots AND norms
      val dots = byGram.select(explode(expr(
          "filter(flatten(transform(ps, a -> transform(ps, b -> " +
            "struct(a.doc_id AS d1, a.tf AS t1, b.doc_id AS d2, b.tf AS t2)))), " +
            "p -> p.d1 < p.d2)")).as("p"))
        .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
        .agg(sum(col("p.t1") * col("p.t2")).as("dot"))
      val norms = byGram
        .select(explode(col("ps")).as("p"))
        .groupBy(col("p.doc_id").as("doc_id"))
        .agg(sum(col("p.tf") * col("p.tf")).as("n2"))
      dots
        .join(norms.select(col("doc_id").as("d1"), col("n2").as("n2a")), "d1")
        .join(norms.select(col("doc_id").as("d2"), col("n2").as("n2b")), "d2")
        .where(expr("2 * CAST(dot AS DECIMAL(38,0)) * dot >= " +
          "CAST(n2a AS DECIMAL(38,0)) * n2b"))
        .select(col("d1"), col("d2"), col("dot"), col("n2a"), col("n2b"),
          expr("CAST((1000000 * CAST(dot AS DECIMAL(38,0)) * dot) div " +
            "(CAST(n2a AS DECIMAL(38,0)) * n2b) AS BIGINT)")
            .as("cos2_micro"))
        .orderBy("d1", "d2")
    },
    Some(s"""WITH g AS (
               SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS tf FROM (
                 SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(toks) - 3, 0) + 1),
                     i -> array_to_string(toks[i : i + 2], ' '))) AS gram
                 FROM (SELECT doc_id,
                         string_split_regex(lower(text), '[^a-z]+') AS toks
                       FROM documents))
               WHERE length(gram) > 0 GROUP BY 1, 2),
             rare AS (SELECT gram FROM g GROUP BY gram
                      HAVING COUNT(*) <= $MaxDf),
             kept AS (SELECT g.* FROM g JOIN rare USING (gram)),
             norms AS (SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2
                       FROM kept GROUP BY 1),
             dots AS (
               SELECT a.doc_id AS d1, b.doc_id AS d2,
                 CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
               FROM kept a JOIN kept b USING (gram)
               WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
             SELECT d1, d2, dot, na.n2 AS n2a, nb.n2 AS n2b,
               CAST((1000000 * CAST(dot AS HUGEINT) * dot)
                 // (CAST(na.n2 AS HUGEINT) * nb.n2) AS BIGINT)
                 AS cos2_micro
             FROM dots
             JOIN norms na ON na.doc_id = d1
             JOIN norms nb ON nb.doc_id = d2
             WHERE 2 * CAST(dot AS HUGEINT) * dot
               >= CAST(na.n2 AS HUGEINT) * nb.n2
             ORDER BY d1, d2"""))

  // ------------------------------------------------------------------- x324
  // Gram document-frequency profile — the measurement that JUSTIFIES the
  // MaxDf=50 cap the whole prefix/containment family (x145/x305) prices
  // its scale story on: the full df distribution of distinct word-3-
  // grams (nearest-rank p50/p99, max), how many grams the cap drops, and
  // what fraction of the posting mass goes with them. An operator tunes
  // the cap from this row instead of folklore. All exact integers on the
  // (df → gram-count) DOMAIN.
  //
  // Scale shape: one distinct (doc, gram) explode (map-side combinable),
  // one gram-domain df count, then everything runs on the count-of-
  // counts grid with cumsum windows — the x319 pattern.
  private val x324 = GQuery(
    "x324_gram_df_profile", "ext-linkage df-cap calibration",
    (s, dir) => {
      val wt = org.apache.spark.sql.expressions.Window.orderBy(col("df"))
      val all = org.apache.spark.sql.expressions.Window
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      docs(s, dir)
        .select(col("doc_id"), split(lower(col("text")), "[^a-z]+").as("toks"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, greatest(size(toks) - 3, 0)), " +
            "i -> concat_ws(' ', slice(toks, i, 3)))")).as("gram"))
        .where(length(col("gram")) > 0)
        .distinct()
        .groupBy(col("gram")).agg(count(lit(1)).as("df"))
        .groupBy(col("df")).agg(count(lit(1)).as("k"))
        .withColumn("c", sum(col("k")).over(wt))
        .withColumn("ng", sum(col("k")).over(all))
        .withColumn("post", sum(col("df") * col("k")).over(all))
        .agg(max(col("ng")).as("n_grams"), max(col("post")).as("n_postings"),
          max(col("df")).as("max_df"),
          max(when(expr("c - k < (ng + 1) div 2 AND (ng + 1) div 2 <= c"),
            col("df"))).as("p50_df"),
          max(when(expr("c - k < (99 * ng + 99) div 100 AND (99 * ng + 99) div 100 <= c"),
            col("df"))).as("p99_df"),
          sum(when(col("df") > MaxDf, col("k")).otherwise(0L))
            .as("n_capped_grams"),
          sum(when(col("df") > MaxDf, col("df") * col("k")).otherwise(0L))
            .as("postings_lost"))
        .select(col("n_grams"), col("n_postings"), col("max_df"),
          col("p50_df"), col("p99_df"), col("n_capped_grams"),
          col("postings_lost"),
          expr("(1000 * postings_lost) div n_postings").as("lost_milli"))
    },
    Some(s"""WITH sh AS (
               SELECT DISTINCT doc_id, gram FROM (
                 SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(toks) - 3, 0) + 1),
                     i -> array_to_string(toks[i : i + 2], ' '))) AS gram
                 FROM (SELECT doc_id,
                         string_split_regex(lower(text), '[^a-z]+') AS toks
                       FROM documents))
               WHERE length(gram) > 0),
             dfs AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df
                     FROM sh GROUP BY 1),
             d AS (SELECT df, CAST(COUNT(*) AS BIGINT) AS k
                   FROM dfs GROUP BY 1),
             w AS (SELECT df, k,
                     CAST(SUM(k) OVER (ORDER BY df) AS BIGINT) AS c,
                     CAST(SUM(k) OVER () AS BIGINT) AS ng,
                     CAST(SUM(df * k) OVER () AS BIGINT) AS post
                   FROM d),
             a AS (SELECT MAX(ng) AS n_grams, MAX(post) AS n_postings,
                     MAX(df) AS max_df,
                     MAX(CASE WHEN c - k < (ng + 1) // 2
                       AND (ng + 1) // 2 <= c THEN df END) AS p50_df,
                     MAX(CASE WHEN c - k < (99 * ng + 99) // 100
                       AND (99 * ng + 99) // 100 <= c THEN df END) AS p99_df,
                     CAST(SUM(CASE WHEN df > $MaxDf THEN k ELSE 0 END)
                       AS BIGINT) AS n_capped_grams,
                     CAST(SUM(CASE WHEN df > $MaxDf THEN df * k ELSE 0 END)
                       AS BIGINT) AS postings_lost
                   FROM w)
             SELECT n_grams, n_postings, max_df, p50_df, p99_df,
               n_capped_grams, postings_lost,
               CAST((1000 * postings_lost) // n_postings AS BIGINT)
                 AS lost_milli
             FROM a"""))

  // ------------------------------------------------------------------- x365
  // Blocking quality evaluation (Christen 2012's two standard metrics) —
  // x146/x189 SHIP blockers; this row grades them the way a linkage
  // pipeline is actually tuned: REDUCTION RATIO (1 − candidates/allpairs
  // — how much of the n² comparison space the blocker kills) vs PAIRS
  // COMPLETENESS (what fraction of true matched pairs remain reachable
  // inside the blocks). Truth tier: pairs with IDENTICAL normalized
  // 24-char heads (x146's norm — the exact-duplicate stratum, organic
  // in the fixture). The trick that makes this exact AND linear: every
  // metric is GROUP-SIZE arithmetic — a block of size k contributes
  // (k−1)+(k−2) SNM-window-2 candidates or k(k−1)/2 all-pairs
  // candidates, and because the block keys are PREFIXES of the norm, a
  // true pair can never straddle blocks and equal norms sort
  // contiguously — so caught-pair counts read off the same size
  // histograms. No pair set is ever materialized on either engine.
  // The two strategies span the design space: key8+SNM(w=2) (x146's
  // production shape — high reduction, completeness pays for the window),
  // prefix4 all-pairs (coarse blocking — total completeness, reduction
  // pays). Products ride DECIMAL(38,0)/HUGEINT (n² counting).
  //
  // Scale shape: three group-by-size rollups over one normalized
  // projection, single-row folds, a 2-row output.
  private val x365 = GQuery(
    "x365_blocking_quality_eval", "ext-linkage blocking quality eval",
    (s, dir) => {
      val keyed = docs(s, dir)
        .select(col("doc_id"),
          substring(regexp_replace(lower(col("text")), "[^a-z0-9]", ""), 1, 24)
            .as("norm"))
        .localCheckpoint(true) // three size histograms read it
      val n = keyed.agg(count(lit(1)).as("n_docs"))
      val normSizes = keyed.groupBy(col("norm")).agg(count(lit(1)).as("k"))
        .localCheckpoint(true) // truth denominator + SNM caught side
      val truth = normSizes
        .agg(coalesce(sum(expr("k * (k - 1) div 2")), lit(0L)).as("n_true"))
      val snm = keyed.withColumn("key", substring(col("norm"), 1, 8))
        .groupBy(col("key")).agg(count(lit(1)).as("k"))
        .agg(coalesce(sum(expr("greatest(k - 1, 0L) + greatest(k - 2, 0L)")),
          lit(0L)).as("n_cand"))
        .crossJoin(broadcast(normSizes
          .agg(coalesce(sum(expr("greatest(k - 1, 0L) + greatest(k - 2, 0L)")),
            lit(0L)).as("n_caught"))))
        .withColumn("strategy", lit("key8_snm_w2"))
      val p4 = keyed.withColumn("key", substring(col("norm"), 1, 4))
        .groupBy(col("key")).agg(count(lit(1)).as("k"))
        .agg(coalesce(sum(expr("k * (k - 1) div 2")), lit(0L)).as("n_cand"))
        .crossJoin(broadcast(truth.select(col("n_true").as("n_caught"))))
        .withColumn("strategy", lit("prefix4_allpairs"))
      snm.unionByName(p4)
        .crossJoin(broadcast(truth))
        .crossJoin(broadcast(n))
        .select(col("strategy"), col("n_docs"), col("n_true"),
          col("n_cand"), col("n_caught"),
          expr("""cast(1000000 - (2000000 * cast(n_cand as decimal(38,0)))
               div (cast(n_docs as decimal(38,0)) * (n_docs - 1))
             as bigint)""").as("rr_ppm"),
          expr("""cast(case when n_true > 0
               then (1000 * n_caught) div n_true end as bigint)""")
            .as("pc_milli"))
        .orderBy("strategy")
    },
    Some("""WITH keyed AS (
              SELECT doc_id,
                substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24)
                  AS norm
              FROM documents),
            n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM keyed),
            ns AS (SELECT norm, CAST(COUNT(*) AS BIGINT) AS k
                   FROM keyed GROUP BY 1),
            truth AS (SELECT COALESCE(CAST(SUM(k * (k - 1) // 2) AS BIGINT),
                0) AS n_true FROM ns),
            caught AS (SELECT COALESCE(CAST(SUM(greatest(k - 1, 0)
                + greatest(k - 2, 0)) AS BIGINT), 0) AS n_caught FROM ns),
            k8 AS (SELECT substr(norm, 1, 8) AS key,
                CAST(COUNT(*) AS BIGINT) AS k FROM keyed GROUP BY 1),
            snm AS (SELECT 'key8_snm_w2' AS strategy,
                COALESCE(CAST(SUM(greatest(k - 1, 0) + greatest(k - 2, 0))
                  AS BIGINT), 0) AS n_cand,
                (SELECT n_caught FROM caught) AS n_caught
              FROM k8),
            k4 AS (SELECT substr(norm, 1, 4) AS key,
                CAST(COUNT(*) AS BIGINT) AS k FROM keyed GROUP BY 1),
            p4 AS (SELECT 'prefix4_allpairs' AS strategy,
                COALESCE(CAST(SUM(k * (k - 1) // 2) AS BIGINT), 0) AS n_cand,
                (SELECT n_true FROM truth) AS n_caught
              FROM k4),
            u AS (SELECT * FROM snm UNION ALL SELECT * FROM p4)
            SELECT strategy, n.n_docs, truth.n_true, u.n_cand, u.n_caught,
              CAST(1000000 - (2000000 * CAST(u.n_cand AS HUGEINT))
                // (CAST(n.n_docs AS HUGEINT) * (n.n_docs - 1)) AS BIGINT)
                AS rr_ppm,
              CAST(CASE WHEN truth.n_true > 0
                THEN (1000 * u.n_caught) // truth.n_true END AS BIGINT)
                AS pc_milli
            FROM u CROSS JOIN truth CROSS JOIN n
            ORDER BY strategy"""))

  val queries: Seq[GQuery] =
    Seq(x142, x145, x146, x159, x160, x188, x189, x305, x324, x365)
}
