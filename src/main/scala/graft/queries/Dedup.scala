package graft.queries

import graft.{GQuery, Tables}
import graft.functions.HashFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — the north-star LLM-pipeline
  * family: exact, normalized-exact, MinHash+LSH, SimHash, and bounded exact
  * n-gram Jaccard.
  *
  * Scale design: every fuzzy variant works by (1) computing a compact per-doc
  * signature in one narrow pass, (2) shuffling only (signature, doc_id) pairs
  * keyed on LSH buckets, (3) joining within buckets. Nothing ever shuffles
  * document text except the final (small) candidate verification, and no
  * operator is quadratic in the corpus.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "documents")

  // --- shared MinHash-LSH construction (x03 + x22) -------------------------
  // One definition of signature length, banding, and the verification
  // threshold: DedupSpec's "x22 coarsens x03" invariant requires the two
  // queries to build IDENTICAL candidate edges, so they must share this code.
  private val SigLen = 32
  private val Bands = 8 // 8 bands x 4 rows: catches ~0.85+ Jaccard reliably
  private val VerifyAgree = math.ceil(0.85 * SigLen).toLong

  /** Word-3-gram shingle MinHash signatures, computed once and reused on
    * both sides of the candidate join (localCheckpoint).
    */
  // NOTE (round 15): a Par.fanOutScan here was measured and REVERTED —
  // the 32-partition checkpoint leaks its width into the connected-
  // components DRIVER LOOP downstream (x22/x102), turning every tiny CC
  // iteration into a 32-task job; the loop overhead cost more than the
  // wide sig build saved (x102 1.69 -> 2.98 s median).
  private def minhashSigs(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      HashFunctions.minhashSig(split(col("text"), " "), SigLen, ngram = 3).as("sig"))
      .localCheckpoint(true)

  /** (doc_id, band_hash) pairs: one xxhash64 per band over the sig slice. */
  private def bandHashes(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(expr(s"transform(sequence(0, ${Bands - 1}), b -> xxhash64(b, slice(sig, b * ${SigLen / Bands} + 1, ${SigLen / Bands})))")))
      .select(col("doc_id"), col("col").as("band_hash"))

  /** Adds each row's bucket minimum (star-edge construction). */
  private def withBucketMin(banded: DataFrame): DataFrame =
    banded.withColumn("bucket_min", min(col("doc_id")).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("band_hash"))))

  /** Keeps only (doc_id, candCol) pairs whose signatures agree on >= the
    * 0.85-estimated-Jaccard threshold. `candSigs` supplies the candidate
    * side's signatures when they come from a different frame (x52's
    * standing corpus); the single-frame overload is the x03/x22 case.
    */
  private def verifyPairs(pairs: DataFrame, sigs: DataFrame, candCol: String): DataFrame =
    verifyPairs(pairs, sigs, candCol, sigs)

  private def verifyPairs(pairs: DataFrame, sigs: DataFrame, candCol: String,
      candSigs: DataFrame): DataFrame =
    pairs
      .join(sigs, Seq("doc_id"))
      .join(candSigs.select(col("doc_id").as(candCol), col("sig").as("cand_sig")), Seq(candCol))
      .where(HashFunctions.sigAgreement(col("sig"), col("cand_sig")) >= VerifyAgree)
      .select(col("doc_id"), col(candCol))

  /** Left-join the assignment back over the corpus: unassigned docs keep
    * themselves; output (doc_id, keeper) sorted.
    */
  private def coverCorpus(d: DataFrame, assigned: DataFrame): DataFrame =
    d.select(col("doc_id"))
      .join(assigned, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("keeper"), col("doc_id")).as("keeper"))
      .orderBy("doc_id")

  // Exact dedup: duplicate groups by raw text; keeper = min(doc_id). This is
  // the reference's A6 idempotency semantics (already-converted check,
  // dags/msconvert_dag.py:112-122) applied to content instead of paths.
  private val x01 = GQuery(
    "x01_dedup_exact", "ext-dedup A6",
    (s, dir) =>
      docs(s, dir)
        .groupBy(col("text"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
        .select(col("keeper"), col("n_copies"))
        .orderBy("keeper"),
    Some("""SELECT MIN(doc_id) AS keeper, COUNT(*) AS n_copies
            FROM documents GROUP BY text ORDER BY keeper"""))

  // Normalized exact dedup: lowercase, collapse whitespace, trim — catches
  // formatting-only duplicates.
  private val x02 = GQuery(
    "x02_dedup_normalized", "ext-dedup",
    (s, dir) =>
      docs(s, dir)
        .withColumn("norm", trim(regexp_replace(lower(col("text")), "\\s+", " ")))
        .groupBy(col("norm"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
        .select(col("keeper"), col("n_copies"))
        .orderBy("keeper"),
    Some("""SELECT MIN(doc_id) AS keeper, COUNT(*) AS n_copies
            FROM documents
            GROUP BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
            ORDER BY keeper"""))

  // MinHash + LSH banding, cluster-assignment form: word-3-gram shingles →
  // signatures (native MinHashSig: one xxhash per token, rolling shingle
  // combine) → band hashes → per-bucket min doc_id → per-doc candidate
  // keeper → verify keeper-doc signature agreement → (doc_id, keeper).
  // Shingles (not unigram token sets) are the published construction: they
  // keep word order, so a reshuffled document is NOT a near-duplicate.
  // Output is one row per document — at corpus scale this is the dedup
  // operator you actually run (drop rows where doc_id != keeper); pair
  // enumeration (see x05) is quadratic in cluster size and explodes on
  // template-heavy corpora.
  //
  // Scale shape: shuffles only (band_hash, doc_id) pairs and k-long
  // signatures; the candidate-keeper join is a self-join on doc_id; nothing
  // ever shuffles text.
  private val x03 = GQuery(
    "x03_dedup_minhash_lsh", "ext-dedup-fuzzy custom-expression",
    (s, dir) => {
      val sigs = minhashSigs(docs(s, dir))
      // candidate keeper: smallest doc_id sharing any band bucket
      val cand = withBucketMin(bandHashes(sigs))
        .groupBy(col("doc_id")).agg(min(col("bucket_min")).as("cand"))
        .where(col("cand") < col("doc_id"))
      // verify: estimated Jaccard (signature agreement) >= 0.85
      val verified = verifyPairs(cand, sigs, "cand")
        .select(col("doc_id"), col("cand").as("keeper"))
      coverCorpus(docs(s, dir), verified)
    },
    None) // hash-seeded algorithm: no SQL oracle; covered by DedupSpec

  // SimHash near-dup, cluster-assignment form: 64-bit native SimHash64 over
  // word-bigram shingle features (order-sensitive, softer than x03's
  // trigrams); candidates share one of four 16-bit chunks (pigeonhole: any
  // pair within Hamming distance 3 must agree on >= 1 chunk); verification by
  // exact bit_count(xor) <= 8 against the candidate keeper.
  private val x04 = GQuery(
    "x04_dedup_simhash", "ext-dedup-fuzzy custom-expression",
    (s, dir) => {
      val sigs = docs(s, dir)
        .select(col("doc_id"),
          HashFunctions.simhash64(split(col("text"), " "), ngram = 2).as("sig"))
        .localCheckpoint(true)
      val banded = sigs.select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, 3), b -> concat(b, ':', (sig >> (b * 16)) & 65535))")))
        .select(col("doc_id"), col("col").as("chunk"))
      val cand = banded
        .withColumn("bucket_min", min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("chunk"))))
        .groupBy(col("doc_id")).agg(min(col("bucket_min")).as("cand"))
        .where(col("cand") < col("doc_id"))
      val verified = cand
        .join(sigs, Seq("doc_id"))
        .join(sigs.select(col("doc_id").as("cand"), col("sig").as("cand_sig")), Seq("cand"))
        .where(expr("bit_count(sig ^ cand_sig)") <= 8)
        .select(col("doc_id"), col("cand").as("keeper"))
      coverCorpus(docs(s, dir), verified)
    },
    None) // hash-seeded algorithm: no SQL oracle; covered by DedupSpec

  // Exact token-set Jaccard against a bounded reference set (doc_id < 8):
  // the verification kernel of near-dup detection, with a DuckDB oracle via
  // list_intersect. Sizes are ints, so the similarity division is exact.
  //
  // Each side is hashed ONCE to a sorted distinct array<long> (TokenHashSet),
  // so the per-pair kernel is an allocation-free merge walk over packed longs
  // (JaccardLongs) instead of array_intersect over token-string arrays —
  // the strings never leave the initial projection. Set sizes are identical
  // to the string formulation (xxhash64 collisions aside, ~2^-64/pair), so
  // the DuckDB string-set oracle is unchanged.
  private val x05 = GQuery(
    "x05_ngram_jaccard", "ext-dedup-fuzzy custom-expression",
    (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        HashFunctions.tokenHashSet(split(col("text"), " ")).as("tok"))
      val refs = d.where(col("doc_id") < 8)
        .select(col("doc_id").as("ref_id"), col("tok").as("rtok"))
      d.join(broadcast(refs), col("doc_id") > col("ref_id"))
        .select(col("ref_id"), col("doc_id"),
          HashFunctions.jaccardLongs(col("tok"), col("rtok")).as("jaccard"))
        .where(col("jaccard") >= 0.8)
        .orderBy("ref_id", "doc_id")
    },
    Some("""WITH refs AS (
              SELECT doc_id AS ref_id, list_distinct(string_split(text, ' ')) AS rtok
              FROM documents WHERE doc_id < 8),
            d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tok FROM documents)
            SELECT r.ref_id, d.doc_id,
              CAST(len(list_intersect(d.tok, r.rtok)) AS DOUBLE)
                / (len(d.tok) + len(r.rtok) - len(list_intersect(d.tok, r.rtok))) AS jaccard
            FROM d JOIN refs r ON d.doc_id > r.ref_id
            WHERE CAST(len(list_intersect(d.tok, r.rtok)) AS DOUBLE)
                / (len(d.tok) + len(r.rtok) - len(list_intersect(d.tok, r.rtok))) >= 0.8
            ORDER BY r.ref_id, d.doc_id"""))

  // Transitive closure of x03: per-bucket keeper assignment under-merges —
  // if A~B in one LSH band bucket and B~C in another, x03 leaves A and C in
  // different clusters even though the dedup relation links them through B.
  // Here every (member, bucket_min) candidate edge is verified by signature
  // agreement (same 0.85 estimated-Jaccard threshold as x03), then the
  // verified candidate graph is closed with distributed connected components
  // (graft.operators.ConnectedComponents — O(log n) label-propagation
  // rounds shuffling only (long, long) pairs). Output matches x03's shape:
  // (doc_id, keeper) with keeper = min doc_id of the transitive cluster, so
  // x22 is a coarsening of x03 (pinned in DedupSpec).
  private val x22 = GQuery(
    "x22_dedup_transitive", "ext-dedup-fuzzy custom-operator",
    (s, dir) => {
      val sigs = minhashSigs(docs(s, dir))
      // star edges per bucket: every member links to the bucket minimum
      // (star, not all-pairs — preserves connectivity at O(members) edges)
      val edges = withBucketMin(bandHashes(sigs))
        .where(col("bucket_min") < col("doc_id"))
        .select(col("doc_id"), col("bucket_min")).distinct()
      // verify each candidate edge before closing over it, so one noisy
      // bucket cannot weld unrelated documents into a mega-cluster
      val verifiedEdges = verifyPairs(edges, sigs, "bucket_min")
      val (labels, _) = graft.operators.ConnectedComponents.run(verifiedEdges)
      coverCorpus(docs(s, dir),
        labels.select(col("id").as("doc_id"), col("comp").as("keeper")))
    },
    None) // hash-seeded algorithm: no SQL oracle; covered by DedupSpec

  // Quality-aware keeper selection — x22's transitive clusters with the
  // keeper the production pipelines actually keep (Dolma/FineWeb style):
  // the HIGHEST-QUALITY member of each near-dup cluster, not the smallest
  // id. Quality is the integer lexical-diversity score (thousandths — the
  // same score x97 calibrates and x98 orders by), tie-broken by min doc_id
  // so the choice is total. Cluster structure is IDENTICAL to x22 (same
  // verified candidate graph, same transitive close — DedupSpec pins the
  // partition equality); only the representative changes.
  //
  // Scale shape: x22's plan plus one (comp, doc_id, q) shuffle for the
  // per-cluster argmax window — scores ride the label table, text never
  // shuffles. Keeper tables join back to members on `comp` (cluster-sized,
  // skew-bounded by the verified-edge threshold).
  private val x102 = GQuery(
    "x102_dedup_quality_keeper", "ext-dedup-fuzzy quality-aware custom-operator",
    (s, dir) => {
      val d = docs(s, dir)
      val sigs = minhashSigs(d)
      val edges = withBucketMin(bandHashes(sigs))
        .where(col("bucket_min") < col("doc_id"))
        .select(col("doc_id"), col("bucket_min")).distinct()
      val verifiedEdges = verifyPairs(edges, sigs, "bucket_min")
      val (labels, _) = graft.operators.ConnectedComponents.run(verifiedEdges)
      val qual = d.select(col("doc_id"),
        expr("(1000L * size(array_distinct(split(text, ' ')))) div " +
          "greatest(size(split(text, ' ')), 1)").as("q"))
      val member = labels.select(col("id").as("doc_id"), col("comp"))
        .join(qual, "doc_id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("comp")).orderBy(col("q").desc, col("doc_id"))
      val keepers = member.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("comp"), col("doc_id").as("keeper"))
      coverCorpus(d, member.join(keepers, "comp")
        .select(col("doc_id"), col("keeper")))
    },
    None) // hash-seeded clusters: no SQL oracle; covered by DedupSpec

  // Incremental ingestion dedup: a NEW batch (doc_id >= 250) lands against
  // an EXISTING corpus (doc_id < 250) — drop new docs whose normalized
  // fingerprint already exists in the corpus (anti join vs the fingerprint
  // ledger) or duplicates an earlier doc within the batch itself. This is
  // the content-level analog of the pipeline's A6 already-converted check
  // (dags/msconvert_dag.py:112-122): at 100 TB the ledger side is a
  // fingerprint-only table (16-byte md5 per doc, no text), the anti join
  // shuffles fingerprints, and the batch's window dedup carries
  // (fingerprint, doc_id) — document bodies never shuffle.
  private val x32 = GQuery(
    "x32_incremental_dedup", "ext-dedup A6 incremental-ingest",
    (s, dir) => {
      val fp = md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp")
      val d = docs(s, dir).select(col("doc_id"), fp)
      val ledger = d.where(col("doc_id") < 250).select(col("fp")).distinct()
      val batch = d.where(col("doc_id") >= 250)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
      batch
        .join(ledger, Seq("fp"), "left_anti")
        .withColumn("keeper", min(col("doc_id")).over(w))
        .where(col("doc_id") === col("keeper"))
        .select(col("doc_id"), col("fp"))
        .orderBy("doc_id")
    },
    Some("""WITH d AS (SELECT doc_id,
                         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
                       FROM documents),
            ledger AS (SELECT DISTINCT fp FROM d WHERE doc_id < 250),
            batch AS (SELECT * FROM d WHERE doc_id >= 250)
            SELECT doc_id, fp FROM (
              SELECT b.doc_id, b.fp,
                MIN(b.doc_id) OVER (PARTITION BY b.fp) AS keeper
              FROM batch b
              -- NOT EXISTS, not NOT IN: a null fp (null text) must be KEPT,
              -- matching the Spark plan's left_anti null-key semantics
              WHERE NOT EXISTS (SELECT 1 FROM ledger l WHERE l.fp = b.fp))
            WHERE doc_id = keeper
            ORDER BY doc_id"""))

  // The materialization composite a training-data pipeline actually runs:
  // exact-dedup (keep the min-doc_id copy of each text) ∘ quality gate
  // (length + lexical-diversity thresholds) ∘ metadata projection — one pass
  // producing the training-ready corpus.
  //
  // Scale shape: everything derived from text (content hash, token count,
  // uniqueness ratio) is computed in the initial narrow projection, so the
  // dedup window's exchange carries only (hash, doc_id, lang, source, two
  // numbers) — the document bodies never shuffle (the x14 fingerprint
  // principle). Content identity = xxhash64(text); a 64-bit collision
  // (~n²/2⁶⁵) could merge two distinct texts, the standard fingerprint
  // trade accepted everywhere else in this family.
  private val x19 = GQuery(
    "x19_clean_corpus", "ext-dedup ext-text pipeline-composite",
    (s, dir) =>
      Dedup.cleanCorpus(docs(s, dir))
        .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"))
        .orderBy("doc_id"),
    Some("""WITH k AS (
              SELECT *, MIN(doc_id) OVER (PARTITION BY text) AS keeper,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / len(string_split(text, ' ')) AS uniq_ratio
              FROM documents)
            SELECT doc_id, lang, source, n_tokens
            FROM k
            WHERE doc_id = keeper AND n_tokens >= 20 AND uniq_ratio >= 0.3
            ORDER BY doc_id"""))

  // --- shared clean-corpus selection (x19 + graft.CorpusMain) -------------

  /** Quality-gate thresholds, shared by the oracle-verified x19 query and
    * the CorpusMain materialization CLI so the two cannot drift.
    */
  val MinTokens = 20L
  val MinUniqRatio = 0.3

  /** The clean-corpus selection: exact dedup (min doc_id per content
    * fingerprint) ∘ quality gate, with everything text-derived computed in
    * the initial narrow projection so the dedup window's exchange carries
    * only (hash, metadata) — document bodies never shuffle (the x14
    * fingerprint principle; a 64-bit collision, ~n²/2⁶⁵, could merge two
    * distinct texts — the standard fingerprint trade). `extras` lets callers
    * add more text-derived columns (e.g. a digest) to the same pre-shuffle
    * projection.
    */
  def cleanCorpus(
      documents: DataFrame,
      extras: Seq[(String, org.apache.spark.sql.Column)] = Nil): DataFrame = {
    val toks = split(col("text"), " ")
    val base = Seq(
      col("doc_id"), col("lang"), col("source"),
      xxhash64(col("text")).as("h"),
      size(toks).cast("long").as("n_tokens"),
      (size(array_distinct(toks)).cast("double") / size(toks)).as("uniq_ratio")) ++
      extras.map { case (name, c) => c.as(name) }
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    documents.select(base: _*)
      .withColumn("keeper", min(col("doc_id")).over(w))
      .where(col("doc_id") === col("keeper") &&
        col("n_tokens") >= MinTokens && col("uniq_ratio") >= MinUniqRatio)
  }

  // Incremental LSH maintenance: dedup a NEW batch against the standing
  // corpus without ever joining the standing corpus to itself — the
  // operation an ingest pipeline runs every cycle once the initial x03
  // dedup has been paid. Here `source = 'src0'` plays the new batch and the
  // other sources the standing index (whose signatures/bands production
  // would have persisted at ingest; recomputing them here changes cost, not
  // semantics — x66 is the same probe against the PERSISTED artifact).
  // Same SigLen/Bands/VerifyAgree construction as x03/x22;
  // unlike x03's min-candidate-then-verify cluster heuristic, every
  // cross-side candidate pair is verified and the minimum is taken over
  // VERIFIED matches, so a spurious band collision can never mask a real
  // near-duplicate.
  //
  // Scale shape: the standing side contributes only (band_hash, doc_id)
  // pairs and k-long signatures — both persisted index artifacts at 100 TB
  // — and the join is batch-bands probing standing-bands: cost scales with
  // the BATCH, not the corpus. Output: one row per new doc, dup_of = the
  // smallest verified standing match (null = genuinely new).
  private val x52 = GQuery(
    "x52_incremental_lsh", "ext-dedup-fuzzy incremental-index",
    (s, dir) => {
      val d = docs(s, dir)
      val batchSigs = minhashSigs(d.where(col("source") === "src0"))
      val standSigs = minhashSigs(d.where(col("source") =!= "src0"))
      val standBands = bandHashes(standSigs)
        .select(col("band_hash"), col("doc_id").as("old_id"))
      smallestVerifiedMatch(batchSigs, standSigs, standBands)
    },
    None) // hash-seeded algorithm: no SQL oracle; covered by DedupSpec

  /** Persist the standing corpus's LSH index — the artifact x52's scaladoc
    * says production maintains at ingest: per-doc MinHash signatures (the
    * verify side) and the banded bucket table (the candidate side). Written
    * bands-last so a `_SUCCESS` on `bands` implies the whole index landed.
    */
  def writeLshIndex(standing: DataFrame, outDir: String): Unit = {
    val sigs = minhashSigs(standing)
    sigs.write.mode("overwrite").parquet(s"$outDir/sigs")
    bandHashes(sigs).write.mode("overwrite").parquet(s"$outDir/bands")
  }

  /** Verdict a (doc_id, text) batch against a stored LSH index — shared by
    * x66 (static registry form) and the streaming-ingest demonstration
    * (StreamingIncrementalLshSpec): inside `foreachBatch` every micro-batch
    * is a static frame, so this SAME verified-probe code runs per batch —
    * the production streaming-dedup pattern with zero batch/stream drift.
    * Output: one row per batch doc, `dup_of` = smallest verified standing
    * match (null = genuinely new).
    */
  def probeLshIndex(batch: DataFrame, indexDir: String): DataFrame = {
    val s = batch.sparkSession
    // parquet round-trips array<long> with NULLABLE elements; the
    // signature kernel's contract is non-null elements (and the writer
    // never produces one), so array_compact — a semantic no-op whose
    // output type is containsNull=false — restores the contract
    val standSigs = s.read.parquet(s"$indexDir/sigs")
      .select(col("doc_id"), array_compact(col("sig")).as("sig"))
    val standBands = s.read.parquet(s"$indexDir/bands")
      .select(col("band_hash"), col("doc_id").as("old_id"))
    smallestVerifiedMatch(minhashSigs(batch), standSigs, standBands)
  }

  /** One row per batch doc with `dup_of`, its smallest verified standing
    * match (null = new). Every distinct band-collision candidate is
    * verified BEFORE the min: min-before-verify would let one spurious
    * band collision with a low-id standing doc suppress a genuine
    * near-dup.
    */
  private def smallestVerifiedMatch(batchSigs: DataFrame, standSigs: DataFrame,
      standBands: DataFrame): DataFrame = {
    val candPairs = bandHashes(batchSigs)
      .join(standBands, "band_hash")
      .select(col("doc_id"), col("old_id")).distinct()
    val verified = verifyPairs(candPairs, batchSigs, "old_id", standSigs)
      .groupBy(col("doc_id")).agg(min(col("old_id")).as("dup_of"))
    batchSigs.select(col("doc_id"))
      .join(verified, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"))
      .orderBy("doc_id")
  }

  // Incremental LSH from the STORED index — x52 with its stated production
  // cost model made real: the standing side's signatures and bands are READ
  // from the persisted artifact (built on first touch), never recomputed —
  // so each ingest cycle pays signature computation for the BATCH only and
  // the standing corpus's text is never touched. Same verify-every-
  // candidate-pair discipline and identical output to x52 (DedupSpec pins
  // the row identity — the x46/x58 two-paths-one-result pattern).
  private val x66 = GQuery(
    "x66_incremental_lsh_stored", "ext-dedup-fuzzy incremental-index stored-artifact",
    (s, dir) => {
      val d = docs(s, dir)
      val store = graft.StoredArtifacts.dir(dir, "lsh_index_v1")
      if (!graft.StoredArtifacts.ready(s"$store/bands"))
        writeLshIndex(d.where(col("source") =!= "src0"), store)
      probeLshIndex(d.where(col("source") === "src0"), store)
    },
    None) // hash-seeded algorithm: gated by DedupSpec row identity with x52

  // EXACT all-pairs near-dup join via prefix filtering (Chaudhuri et al.
  // ICDE'06; Bayardo, Ma & Srikant, "Scaling Up All Pairs Similarity
  // Search", WWW'07) — the lossless counterpart to x03's probabilistic LSH:
  // every document pair with word-3-shingle Jaccard >= 0.8 is returned, no
  // recall gap, WITHOUT forming the quadratic pair space. Correctness of
  // the filter: J(x,y) >= t implies |x ∩ y| >= t·max(|x|,|y|) (intersection
  // over a union that is at least the larger set), so under any one global
  // total order of the shingle vocabulary, x and y must collide inside
  // their first n − ceil(t·n) + 1 shingles — the "prefix". Candidates are
  // generated by an equi-join on prefix-shingle postings only; rarest-first
  // ordering (ascending document frequency) makes those postings the
  // shortest available, bounding both candidate count and join skew.
  //
  // Scale shape: one df aggregate (vocab-sized), one posting self-join
  // keyed on prefix shingles (output bounded by true-near-dup density, not
  // n²), a size filter (5·min >= 4·max — necessary for J >= 4/5), then one
  // verify join that walks the two sorted hash sets (JaccardLongs merge).
  // Text never shuffles; sets shuffle once into the verify. At 100 TB this
  // is the published production algorithm for exact-threshold dedup.
  //
  // The sf0.01 oracle is the brute-force all-pairs definition (125k pairs —
  // fine in DuckDB at verify scale); the Spark plan never materializes it.
  /** Per-doc sorted distinct word-3-shingle hash sets — the shared input of
    * the exact prefix-filter joins (x225 full, x227 incremental).
    */
  private[graft] def shingleSets(d: DataFrame): DataFrame =
    Par.fanOutScan(d, "doc_id")
      .select(col("doc_id"),
        array_sort(array_distinct(
          HashFunctions.shingleHashes(split(col("text"), " "), 3))).as("sh"))
      .withColumn("n", size(col("sh")).cast("long"))

  /** Rarest-first prefix postings under the given df table: the first
    * n − ceil(0.8·n) + 1 shingles of each doc in ascending-(df, shingle)
    * order — ceil(4n/5) computed as (4n + 4) div 5 to stay in integers.
    * Any one CONSISTENT total order preserves the lossless guarantee;
    * rarest-first is the performance choice (shortest postings). Shingles
    * absent from `dfTab` rank first under df = 0 — correct for the
    * incremental probe, where a batch-only shingle cannot collide with
    * any standing posting anyway.
    */
  private[graft] def prefixPostings(postings: DataFrame, dfTab: DataFrame,
      num: Int = 4, den: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ceil(t·n) for t = num/den as (num·n + den − 1) div den
    postings.join(dfTab, Seq("s"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
      .where(col("rk") <=
        col("n") - expr(s"($num * n + ${den - 1}) div $den") + 1)
      .select(col("s"), col("doc_id"), col("n"))
  }

  /** The ONE candidate-generation + verify-input pipeline every exact
    * prefix-filter row shares (x225 pairs, x236 clusters, x237 bands,
    * x241 explanations — the lossless arithmetic lives here once):
    * rarest-first prefixes at threshold num/den, posting equi-join,
    * den·min >= num·max size filter, both sets re-joined. Callers apply
    * their own verify projection (double Jaccard, integer banding, ...).
    * `sets` is read three times — checkpoint it at the call site.
    */
  private def prefixCandidates(sets: DataFrame, num: Int, den: Int): DataFrame = {
    val postings = sets.select(col("doc_id"), col("n"), explode(col("sh")).as("s"))
    val dfTab = postings.groupBy("s").agg(count(lit(1)).as("df"))
    val prefix = prefixPostings(postings, dfTab, num, den)
    // verify parallelism pinned at the session width (round 15, guide
    // §2.6): the pair keys are small in BYTES, so AQE's byte-based
    // coalescing collapsed the verify joins to 1-4 tasks while every
    // caller's set-intersection projection burned whole seconds of CPU in
    // them (x340's truth verify: 7.5 s over 3 tasks on 32 cores). ONE
    // explicit repartition of the SLIM pair table pins the stage: in the
    // broadcast-join regime both set joins and the verify projection
    // pipeline into this exchange's stage (nothing fat ever re-shuffles).
    // Past broadcast range the first sort-merge join keys on a_id alone,
    // and hashpartitioning(a_id, b_id) does not satisfy its
    // ClusteredDistribution(a_id), so Spark adds one more exchange of this
    // slim pair table (cheap: two longs a row). (A second pin on b_id was
    // measured and REJECTED: the planner keeps only the last pin and it
    // forces the joined sa-arrays through an added ~70 MB exchange.)
    prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .where(least(col("a.n"), col("b.n")) * den >=
        greatest(col("a.n"), col("b.n")) * num)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
      .transform(Par.fanOutJoin(_, col("a_id"), col("b_id")))
      .join(sets.select(col("doc_id").as("a_id"), col("sh").as("sa"),
        col("n").as("n_a")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("sh").as("sb"),
        col("n").as("n_b")), "b_id")
  }

  private val x225 = GQuery(
    "x225_allpairs_prefix_join", "ext-dedup-fuzzy all-pairs prefix-filter exact",
    (s, dir) => {
      val sets = shingleSets(docs(s, dir)).localCheckpoint(true)
      prefixCandidates(sets, 4, 5)
        .select(col("a_id"), col("b_id"),
          HashFunctions.jaccardLongs(col("sa"), col("sb")).as("jaccard"))
        .where(col("jaccard") >= 0.8)
        .orderBy("a_id", "b_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents),
            sh AS (SELECT doc_id,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               for i in range(1, len(w) - 1)]) AS tok
              FROM t)
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok)))
                AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok)))
                >= 0.8
            ORDER BY a_id, b_id"""))

  // ------------------------------------------------------------------- x280
  // LOSSLESS containment join (Broder 1997's containment coefficient) —
  // the exact tier above x145's df-capped blocked form, exactly as x225
  // is the exact tier above x03's LSH: x145 drops shingles appearing in
  // > MaxDf documents (boilerplate cutoff — scale-right, but a pair
  // sharing ONLY common shingles is silently unreachable) and scores
  // min-size containment on unordered pairs; this row guarantees EVERY
  // directional pair with C(A→B) = |A∩B|/|A| ≥ 0.8 — the asymmetric
  // duplication Jaccard provably under-reports (a 100-word document
  // pasted into a 10000-word page has C ≈ 1, J ≈ 0.01). Same lossless
  // prefix-filter machinery as x225 with the ASYMMETRIC adaptation: the
  // contained side contributes its rarest-first prefix of length
  // n_a − ceil(0.8·n_a) + 1, probed against FULL postings (no size
  // filter is sound for containment — the container may be any size),
  // then exact overlap verification. Output: every ordered pair with
  // C(inner→outer) ≥ 0.8, containment milli-quantized by integer div so
  // the row hash-verifies against the brute-force oracle.
  //
  // Scale shape: candidates bounded by true containment density via the
  // prefix filter (rarest-first keeps postings short); only 8-byte
  // hashes and id pairs cross the exchanges; text never shuffles.
  private val x280 = GQuery(
    "x280_containment_join", "ext-dedup-fuzzy containment prefix-filter exact",
    (s, dir) => {
      val sets = shingleSets(docs(s, dir)).localCheckpoint(true)
      val postings = sets.select(col("doc_id"), col("n"),
        explode(col("sh")).as("s"))
      val dfTab = postings.groupBy("s").agg(count(lit(1)).as("df"))
      val probe = prefixPostings(postings, dfTab, 4, 5)
        .select(col("s"), col("doc_id").as("a_id"))
      val cand = probe
        .join(postings.select(col("s"), col("doc_id").as("b_id")), "s")
        .where(col("a_id") =!= col("b_id"))
        .select("a_id", "b_id").distinct()
      cand
        .join(sets.select(col("doc_id").as("a_id"), col("sh").as("sa"),
          col("n").as("n_a")), "a_id")
        .join(sets.select(col("doc_id").as("b_id"), col("sh").as("sb")), "b_id")
        .withColumn("overlap",
          HashFunctions.intersectLongs(col("sa"), col("sb")))
        .where(col("overlap") * 5 >= col("n_a") * 4)
        .select(col("a_id").as("inner_id"), col("b_id").as("outer_id"),
          col("overlap"), col("n_a"),
          expr("(1000 * overlap) div n_a").as("containment_milli"))
        .orderBy("inner_id", "outer_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents),
            sh AS (SELECT doc_id,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               for i in range(1, len(w) - 1)]) AS tok
              FROM t),
            p AS (
              SELECT a.doc_id AS inner_id, b.doc_id AS outer_id,
                CAST(len(list_intersect(a.tok, b.tok)) AS BIGINT) AS overlap,
                CAST(len(a.tok) AS BIGINT) AS n_a
              FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
              WHERE len(a.tok) >= 1)
            SELECT inner_id, outer_id, overlap, n_a,
              (1000 * overlap) // n_a AS containment_milli
            FROM p
            WHERE overlap * 5 >= n_a * 4
            ORDER BY inner_id, outer_id"""))

  /** Build the standing side of the incremental prefix-filter join as a
    * stored artifact: shingle sets, the global df table, and the
    * rarest-first prefix postings — the ingest-time cost the x66/x62
    * build-once/probe-many discipline amortizes over every batch.
    */
  /** The one standing-index builder (sets + df + rarest-first prefixes),
    * parameterized by output sub-paths so the flat artifact (x227) and
    * the streaming log's first segment (DedupIngestStream) stay
    * structurally identical. The prefix table is written LAST — it is the
    * flat artifact's ready marker.
    */
  private[graft] def buildAllPairsIndex(standing: DataFrame, dfDir: String,
      setsDir: String, prefixDir: String): Unit = {
    val sets = shingleSets(standing).localCheckpoint(true)
    val postings = sets.select(col("doc_id"), col("n"), explode(col("sh")).as("s"))
    val dfTab = postings.groupBy("s").agg(count(lit(1)).as("df"))
      .localCheckpoint(true)
    sets.write.mode("overwrite").parquet(setsDir)
    dfTab.write.mode("overwrite").parquet(dfDir)
    prefixPostings(postings, dfTab)
      .write.mode("overwrite").parquet(prefixDir)
  }

  def writeAllPairsIndex(standing: DataFrame, outDir: String): Unit =
    buildAllPairsIndex(standing, s"$outDir/df", s"$outDir/sets",
      s"$outDir/prefix")

  /** Probe a NEW batch against the stored standing postings: the batch
    * pays its own shingle cost plus one posting equi-join — the standing
    * corpus's text is never re-read (DedupSpec pins the scan locations).
    * Lossless across (batch × standing) for Jaccard >= 0.8 because both
    * sides' prefixes use the SAME total order (standing df, shingle);
    * a batch-only shingle defaults to df = 0 and collides with nothing.
    */
  /** The probe's candidate + verify joins over ALREADY-PREFIXED sides —
    * shared by the stored-artifact probe (x227) and the streaming ingest
    * ([[graft.streaming.DedupIngestStream]]). Both set columns must be
    * sorted distinct array<long> with non-nullable elements.
    */
  private[graft] def probeJoin(bsets: DataFrame, bprefix: DataFrame,
      standSets: DataFrame, standPrefix: DataFrame): DataFrame = {
    val cand = bprefix
      .select(col("s"), col("doc_id").as("b_doc"), col("n").as("bn"))
      .join(standPrefix
        .select(col("s"), col("doc_id").as("t_doc"), col("n").as("tn")), "s")
      .where(least(col("bn"), col("tn")) * 5 >=
        greatest(col("bn"), col("tn")) * 4)
      .select(col("b_doc"), col("t_doc")).distinct()
    cand
      .join(bsets.select(col("doc_id").as("b_doc"), col("sh").as("bsh")), "b_doc")
      .join(standSets.select(col("doc_id").as("t_doc"), col("sh").as("tsh")), "t_doc")
      .select(col("b_doc").as("batch_id"), col("t_doc").as("standing_id"),
        HashFunctions.jaccardLongs(col("bsh"), col("tsh")).as("jaccard"))
      .where(col("jaccard") >= 0.8)
      .orderBy("batch_id", "standing_id")
  }

  def probeAllPairsIndex(batch: DataFrame, indexDir: String): DataFrame = {
    val s = batch.sparkSession
    // array_compact: parquet read-back loses containsNull=false (the x66
    // note) — a semantic no-op here that restores JaccardLongs' contract
    val standSets = s.read.parquet(s"$indexDir/sets")
      .select(col("doc_id"), array_compact(col("sh")).as("sh"))
    val standDf = s.read.parquet(s"$indexDir/df")
    val standPrefix = s.read.parquet(s"$indexDir/prefix")
    val bsets = shingleSets(batch).localCheckpoint(true)
    val bpost = bsets.select(col("doc_id"), col("n"), explode(col("sh")).as("s"))
    val bprefix = prefixPostings(bpost, standDf)
    probeJoin(bsets, bprefix, standSets, standPrefix)
  }

  /** SQL serving surface for the exact near-dup tier — the
    * HnswAnn.sqlRegister contract on the stored posting index: registers
    * `<prefix>_pairs` whose plan references `docsTable` LAZILY, so every
    * SELECT re-reads the query table's current rows with no
    * re-registration (no checkpoint anywhere in the registered plan).
    * A SQL user gets the same lossless >= 0.8-Jaccard pairs the Scala
    * probe returns, served from the same artifact.
    */
  def sqlRegister(s: SparkSession, indexDir: String, prefix: String,
      docsTable: String): Unit = {
    val batch = s.table(docsTable)
    val standSets = s.read.parquet(s"$indexDir/sets")
      .select(col("doc_id"), array_compact(col("sh")).as("sh"))
    val standDf = s.read.parquet(s"$indexDir/df")
    val standPrefix = s.read.parquet(s"$indexDir/prefix")
    val bsets = shingleSets(batch)
    val bpost = bsets.select(col("doc_id"), col("n"), explode(col("sh")).as("s"))
    probeJoin(bsets, prefixPostings(bpost, standDf), standSets, standPrefix)
      .createOrReplaceTempView(s"${prefix}_pairs")
  }

  // Incremental exact near-dup join — x225's lossless guarantee at x66's
  // ingest cost model: the standing corpus (source != src0) is indexed
  // ONCE (sets + df + prefix postings, a stored-artifact generation) and
  // each new batch (source = src0) probes it at O(batch) shingle cost plus
  // one posting equi-join. This is the shape production dedup actually
  // runs daily; the full-corpus x225 is its backfill form. Oracled against
  // the brute batch × standing definition.
  private val x227 = GQuery(
    "x227_allpairs_incremental", "ext-dedup-fuzzy incremental prefix-filter stored-artifact",
    (s, dir) => {
      val d = docs(s, dir)
      val store = graft.StoredArtifacts.dir(dir, "allpairs_postings_v1")
      if (!graft.StoredArtifacts.ready(s"$store/prefix"))
        writeAllPairsIndex(d.where(col("source") =!= "src0"), store)
      probeAllPairsIndex(d.where(col("source") === "src0"), store)
    },
    Some("""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
              FROM documents),
            sh AS (SELECT doc_id, source,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               for i in range(1, len(w) - 1)]) AS tok
              FROM t)
            SELECT b.doc_id AS batch_id, s.doc_id AS standing_id,
              CAST(len(list_intersect(b.tok, s.tok)) AS DOUBLE)
                / (len(b.tok) + len(s.tok) - len(list_intersect(b.tok, s.tok)))
                AS jaccard
            FROM sh b JOIN sh s
              ON b.source = 'src0' AND s.source <> 'src0'
            WHERE CAST(len(list_intersect(b.tok, s.tok)) AS DOUBLE)
                / (len(b.tok) + len(s.tok) - len(list_intersect(b.tok, s.tok)))
                >= 0.8
            ORDER BY batch_id, standing_id"""))

  // Exact near-dup CLUSTERS — x225's lossless pair set closed
  // transitively with distributed connected components, keeper = the
  // cluster's minimum doc_id, every document covered. This is x22's
  // output shape with a crucial upgrade: because the EDGES are exact
  // (prefix filtering loses nothing and seeds nothing), the whole
  // operator — including the transitive closure — has a DuckDB oracle
  // (recursive-CTE label spread over the brute pair set), making this
  // the registry's first fully-oracled clustering row. The LSH variants
  // (x03/x22/x102) remain the probabilistic tier; this is the exact tier
  // a release pipeline runs when recall guarantees are contractual.
  //
  // Scale shape: x225's plan plus ConnectedComponents.run — O(log n)
  // label rounds shuffling (long, long) pairs over a graph whose size is
  // the near-dup density, not the corpus.
  /** x236's exact near-dup cluster labels — (doc_id, keeper) covering the
    * whole corpus, keeper = the transitive cluster's minimum id. ONE
    * definition shared by the x236 registry row and CorpusMain's opt-in
    * `neardup` stage (the x31 discipline: the CLI ships exactly the code
    * the oracle verifies, so the two cannot drift).
    */
  def allPairsClusters(d: DataFrame): DataFrame = {
    val sets = shingleSets(d).localCheckpoint(true)
    val pairs = prefixCandidates(sets, 4, 5)
      .where(HashFunctions.jaccardLongs(col("sa"), col("sb")) >= 0.8)
      .select(col("a_id"), col("b_id"))
    val (labels, _) = graft.operators.ConnectedComponents.run(
      pairs.select(col("a_id").as("src"), col("b_id").as("dst")))
    coverCorpus(d,
      labels.select(col("id").as("doc_id"), col("comp").as("keeper")))
  }

  /** [[allPairsClusters]] as a stored artifact (the x62 build-once /
    * serve-many discipline): four registry rows (x236, x294, x304, x309)
    * consume the SAME deterministic cluster labels, and before round 11
    * each re-ran the full prefix-filter + connected-components build
    * (~2.4 s each at sf0.1, measured in the r11 mid-round bench). The
    * first toucher builds and publishes; everyone else reads the
    * (doc_id, keeper) parquet. CorpusMain keeps the DataFrame form (its
    * input is not always a fixture dir).
    */
  private[queries] def storedClusters(s: SparkSession, dir: String): DataFrame = {
    val store = graft.StoredArtifacts.dir(dir, "neardup_clusters_v1")
    if (!graft.StoredArtifacts.ready(store))
      allPairsClusters(docs(s, dir)).write.mode("overwrite").parquet(store)
    s.read.parquet(store)
  }

  private val x236 = GQuery(
    "x236_allpairs_clusters", "ext-dedup-fuzzy exact-clusters transitive custom-operator",
    (s, dir) => storedClusters(s, dir).orderBy("doc_id"),
    Some("""WITH RECURSIVE t AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            sh AS (SELECT doc_id,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               for i in range(1, len(w) - 1)]) AS tok
              FROM t),
            pairs AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                / (len(a.tok) + len(b.tok)
                   - len(list_intersect(a.tok, b.tok))) >= 0.8),
            edges AS (
              SELECT a_id AS u, b_id AS v FROM pairs
              UNION SELECT b_id, a_id FROM pairs),
            reach(node, lbl) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node)
            SELECT d.doc_id,
              COALESCE((SELECT MIN(lbl) FROM reach WHERE node = d.doc_id),
                d.doc_id) AS keeper
            FROM documents d ORDER BY d.doc_id"""))

  // ------------------------------------------------------------------- x294
  // Duplication census — the "how duplicated is my corpus" headline read
  // over x236's EXACT clusters: per cluster-size band (1 / 2 / 3-4 / 5+,
  // the x275 banding), how many clusters and how many documents, plus
  // the dedup dividend (docs − clusters = rows a keeper-only corpus
  // drops). The number a curation review quotes first, computed from
  // the lossless tier so it cannot under-count the way an LSH census
  // can. Shares allPairsClusters verbatim (the x31 discipline).
  //
  // Scale shape: x236's plan + one keeper-domain aggregate and a 4-row
  // band rollup.
  private val x294 = GQuery(
    "x294_duplication_census", "ext-dedup-fuzzy cluster-size census",
    (s, dir) => {
      val all = org.apache.spark.sql.expressions.Window
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      storedClusters(s, dir)
        .groupBy(col("keeper")).agg(count(lit(1)).as("sz"))
        .groupBy(when(col("sz") === 1L, "1").when(col("sz") === 2L, "2")
          .when(col("sz") <= 4L, "3-4").otherwise("5+").as("size_band"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
        .withColumn("dedup_dividend",
          sum(col("n_docs") - col("n_clusters")).over(all))
        .orderBy("size_band")
    },
    Some("""WITH RECURSIVE t AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            sh AS (SELECT doc_id,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               for i in range(1, len(w) - 1)]) AS tok
              FROM t),
            pairs AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                / (len(a.tok) + len(b.tok)
                   - len(list_intersect(a.tok, b.tok))) >= 0.8),
            edges AS (
              SELECT a_id AS u, b_id AS v FROM pairs
              UNION SELECT b_id, a_id FROM pairs),
            reach(node, lbl) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node),
            lab AS (
              SELECT d.doc_id,
                COALESCE((SELECT MIN(lbl) FROM reach WHERE node = d.doc_id),
                  d.doc_id) AS keeper
              FROM documents d),
            cl AS (SELECT keeper, CAST(COUNT(*) AS BIGINT) AS sz
                   FROM lab GROUP BY 1),
            b AS (
              SELECT CASE WHEN sz = 1 THEN '1' WHEN sz = 2 THEN '2'
                  WHEN sz <= 4 THEN '3-4' ELSE '5+' END AS size_band,
                CAST(COUNT(*) AS BIGINT) AS n_clusters,
                CAST(SUM(sz) AS BIGINT) AS n_docs
              FROM cl GROUP BY 1)
            SELECT size_band, n_clusters, n_docs,
              CAST(SUM(n_docs - n_clusters) OVER () AS BIGINT)
                AS dedup_dividend
            FROM b ORDER BY size_band"""))

  // Similarity-band census — the threshold-sensitivity audit run BEFORE
  // committing to a dedup cutoff: how many document pairs sit in each
  // Jaccard decile above 0.5? A cliff between bands is where the corpus'
  // natural near-dup boundary lies; a smooth slope means the chosen
  // threshold is a policy, not a property of the data. Same lossless
  // prefix-filter machinery as x225 at t = 0.5 (prefix n − ceil(n/2) + 1,
  // size filter 2·min >= max), but banding runs on exact INTEGER set
  // sizes — band = (10·|∩|) div |∪| — so no float ever enters the
  // operator and the census hash-verifies trivially.
  //
  // Scale shape: candidates grow as the threshold drops (430k at sf0.1
  // vs x225's 122k) — still density-bounded, never n²; the verify join
  // walks sorted hash arrays exactly as x225 does.
  private val x237 = GQuery(
    "x237_similarity_bands", "ext-dedup-fuzzy threshold-sensitivity band-census",
    (s, dir) => {
      val sets = shingleSets(docs(s, dir)).localCheckpoint(true)
      prefixCandidates(sets, 1, 2)
        .withColumn("inter", HashFunctions.intersectLongs(col("sa"), col("sb")))
        .withColumn("un", col("n_a") + col("n_b") - col("inter"))
        .where(col("inter") * 2 >= col("un"))
        .withColumn("band", expr("(10 * inter) div un"))
        .groupBy("band").agg(count(lit(1)).as("n_pairs"))
        .orderBy("band")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents),
            sh AS (SELECT doc_id,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               for i in range(1, len(w) - 1)]) AS tok
              FROM t),
            p AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                CAST(len(list_intersect(a.tok, b.tok)) AS BIGINT) AS i,
                CAST(len(a.tok) + len(b.tok)
                  - len(list_intersect(a.tok, b.tok)) AS BIGINT) AS u
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
            SELECT (10 * i) // u AS band, CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM p WHERE i * 2 >= u
            GROUP BY 1 ORDER BY 1"""))

  // Near-dup pair EXPLANATIONS — the review table behind every x225
  // decision: for each kept pair, both set sizes, the overlap, the union
  // and the integer milli-Jaccard ((1000·|∩|) div |∪| — float-free, like
  // x237's banding). A reviewer disputing a dedup decision reads this
  // row, not the raw texts. Same lossless machinery; only the output
  // projection differs.
  private val x241 = GQuery(
    "x241_pair_explanations", "ext-dedup-fuzzy pair-audit explanation",
    (s, dir) => {
      val sets = shingleSets(docs(s, dir)).localCheckpoint(true)
      prefixCandidates(sets, 4, 5)
        .withColumn("inter", HashFunctions.intersectLongs(col("sa"), col("sb")))
        .withColumn("un", col("n_a") + col("n_b") - col("inter"))
        .where(col("inter") * 5 >= col("un") * 4) // J >= 4/5 in integers
        .select(col("a_id"), col("b_id"), col("n_a"), col("n_b"),
          col("inter"), col("un"),
          expr("(1000 * inter) div un").as("jaccard_milli"))
        .orderBy("a_id", "b_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents),
            sh AS (SELECT doc_id,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               FOR i IN range(1, len(w) - 1)]) AS tok
              FROM t),
            p AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                CAST(len(a.tok) AS BIGINT) AS n_a,
                CAST(len(b.tok) AS BIGINT) AS n_b,
                CAST(len(list_intersect(a.tok, b.tok)) AS BIGINT) AS i
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
            SELECT a_id, b_id, n_a, n_b, i AS inter,
              n_a + n_b - i AS un,
              (1000 * i) // (n_a + n_b - i) AS jaccard_milli
            FROM p WHERE i * 5 >= (n_a + n_b - i) * 4
            ORDER BY a_id, b_id"""))

  // ------------------------------------------------------------------- x304
  // End-to-end corpus-build accounting — the COST and YIELD of the full
  // CorpusMain stage stack as one oracled registry row (the r10 "make the
  // CLI's cost visible to the bench" task): exact-dedup + quality gate
  // (x19's cleanCorpus), then the neardup keeper semi-join (x236's
  // allPairsClusters), then benchmark decontamination (x24's
  // contaminationHits anti-join), then the substring-surgery annotation
  // census (x87's substringClean) — every stage the SAME shared function
  // CorpusMain composes (the x31 no-drift discipline), so benching this
  // row times the CLI's actual pipeline and hash-verifying it pins the
  // CLI's per-stage selection end to end. One summary row: rows in,
  // survivors and drop count per stage, final kept/langs, and how many
  // kept docs the substring sweep would have cut into.
  //
  // Scale shape: the union of its stages' shapes — nothing new is
  // materialized driver-side; the five 1-row aggregates meet in
  // broadcast cross joins (the x293 audit pattern, RegistryAuditSpec
  // whitelisted as dimension-bounded).
  private val x304 = GQuery(
    "x304_corpus_build_audit",
    "ext-pipeline corpus-composite cost-accounting",
    (s, dir) => {
      val d = docs(s, dir)
      val base = Dedup.cleanCorpus(d).select("doc_id", "lang")
      val keepers = Dedup.storedClusters(s, dir)
        .where(col("doc_id") === col("keeper")).select("doc_id")
      val afterNear = base.join(keepers, Seq("doc_id"), "left_semi")
      val hits = graft.queries.Text.contaminationHits(d).select("doc_id")
      val afterDecon = afterNear.join(hits, Seq("doc_id"), "left_anti")
      val cs = graft.queries.CorpusOps.substringClean(d, k = 20)
        .select("doc_id", "n_cut")
      d.agg(count(lit(1)).as("rows_in"))
        .crossJoin(broadcast(base.agg(count(lit(1)).as("base_kept"))))
        .crossJoin(broadcast(
          afterNear.agg(count(lit(1)).as("after_neardup"))))
        .crossJoin(broadcast(afterDecon.join(cs, Seq("doc_id"), "left")
          .agg(count(lit(1)).as("kept"),
            countDistinct(col("lang")).as("langs"),
            sum(when(col("n_cut") > 0, 1L).otherwise(0L))
              .as("n_cut_docs"))))
        .select(col("rows_in"), col("base_kept"),
          (col("rows_in") - col("base_kept")).as("drop_dedup_quality"),
          (col("base_kept") - col("after_neardup")).as("drop_neardup"),
          (col("after_neardup") - col("kept")).as("drop_decontam"),
          col("kept"), col("langs"), col("n_cut_docs"))
    },
    Some("""WITH RECURSIVE
            k AS (
              SELECT *, MIN(doc_id) OVER (PARTITION BY text) AS keeper,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / len(string_split(text, ' ')) AS uniq_ratio
              FROM documents),
            base AS (
              SELECT doc_id, lang FROM k
              WHERE doc_id = keeper AND n_tokens >= 20 AND uniq_ratio >= 0.3),
            t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            sh3 AS (SELECT doc_id,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               FOR i IN range(1, len(w) - 1)]) AS tok
              FROM t),
            pairs AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id
              FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                / (len(a.tok) + len(b.tok)
                   - len(list_intersect(a.tok, b.tok))) >= 0.8),
            edges AS (
              SELECT a_id AS u, b_id AS v FROM pairs
              UNION SELECT b_id, a_id FROM pairs),
            reach(node, lbl) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node),
            lab AS (
              SELECT d.doc_id,
                COALESCE((SELECT MIN(lbl) FROM reach WHERE node = d.doc_id),
                  d.doc_id) AS keeper
              FROM documents d),
            afternear AS (
              SELECT b.* FROM base b
              JOIN (SELECT doc_id FROM lab WHERE doc_id = keeper)
                USING (doc_id)),
            shing AS (
              SELECT doc_id,
                unnest(list_distinct(list_transform(
                  range(1, greatest(len(w) - 5, 1) + 1),
                  i -> array_to_string(w[i:i+5], ' ')))) AS shingle
              FROM t),
            bench AS (SELECT DISTINCT shingle FROM shing WHERE doc_id < 50),
            hits AS (
              SELECT DISTINCT doc_id FROM shing JOIN bench USING (shingle)
              WHERE doc_id >= 50),
            afterdecon AS (
              SELECT a.* FROM afternear a
              WHERE NOT EXISTS (SELECT 1 FROM hits h
                                WHERE h.doc_id = a.doc_id)),
            grams AS (
              SELECT doc_id, r.pos, substr(text, r.pos + 1, 20) AS gram
              FROM documents,
                unnest(range(0, greatest(length(text) - 19, 0))) r(pos)),
            cov AS (
              SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS occ
              FROM grams),
            cut AS (
              SELECT DISTINCT doc_id FROM cov WHERE occ > 1)
            SELECT
              (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS rows_in,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS base_kept,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
                - (SELECT COUNT(*) FROM base) AS drop_dedup_quality,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM base)
                - (SELECT COUNT(*) FROM afternear) AS drop_neardup,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM afternear)
                - (SELECT COUNT(*) FROM afterdecon) AS drop_decontam,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM afterdecon) AS kept,
              (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) FROM afterdecon)
                AS langs,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM afterdecon a
                 JOIN cut c USING (doc_id)) AS n_cut_docs"""))

  // ------------------------------------------------------------------- x309
  // Per-language duplication census — x294's headline broken out by
  // language: per lang (of the cluster keeper), exact-near-dup clusters,
  // documents, and the dedup dividend. The table a multilingual curation
  // review reads to see WHERE the duplication lives (crawled languages
  // duplicate very differently; a global census hides it). Shares
  // allPairsClusters verbatim (the x31 discipline).
  //
  // Scale shape: x236's plan + a keeper-domain aggregate joined to a
  // doc-keyed lang lookup + a lang-domain rollup.
  private val x309 = GQuery(
    "x309_lang_dup_census", "ext-dedup-fuzzy per-language census",
    (s, dir) => {
      val d = docs(s, dir)
      val langOf = d.select(col("doc_id").as("keeper"), col("lang"))
      storedClusters(s, dir)
        .groupBy(col("keeper")).agg(count(lit(1)).as("sz"))
        .join(langOf, "keeper")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"),
          sum(col("sz") - 1).as("dedup_dividend"),
          sum(when(col("sz") > 1, 1L).otherwise(0L)).as("n_dup_clusters"))
        .orderBy("lang")
    },
    Some("""WITH RECURSIVE t AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            sh AS (SELECT doc_id,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               FOR i IN range(1, len(w) - 1)]) AS tok
              FROM t),
            pairs AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                / (len(a.tok) + len(b.tok)
                   - len(list_intersect(a.tok, b.tok))) >= 0.8),
            edges AS (
              SELECT a_id AS u, b_id AS v FROM pairs
              UNION SELECT b_id, a_id FROM pairs),
            reach(node, lbl) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node),
            lab AS (
              SELECT d.doc_id,
                COALESCE((SELECT MIN(lbl) FROM reach WHERE node = d.doc_id),
                  d.doc_id) AS keeper
              FROM documents d),
            cl AS (SELECT keeper, CAST(COUNT(*) AS BIGINT) AS sz
                   FROM lab GROUP BY 1)
            SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_clusters,
              CAST(SUM(cl.sz) AS BIGINT) AS n_docs,
              CAST(SUM(cl.sz - 1) AS BIGINT) AS dedup_dividend,
              CAST(SUM(CASE WHEN cl.sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_dup_clusters
            FROM cl JOIN documents d ON d.doc_id = cl.keeper
            GROUP BY 1 ORDER BY 1"""))

  // ------------------------------------------------------------------- x313
  // Quality × dedup-survival contingency — the curation question behind
  // every dedup pass: does deduplication remove low-quality documents
  // preferentially (healthy: duplicated boilerplate is usually junk), or
  // is it eating curated content? Quality bands mirror CorpusMain's
  // tiering ('good' ≥50 tokens & ≥0.5 uniq, 'ok' ≥20 & ≥0.3, 'low'
  // otherwise); survival = the document is its exact-dup group's keeper
  // (x01's min-doc_id rule). Exact integer millis.
  //
  // Scale shape: everything text-derived computed in the scan
  // projection; the keeper window shuffles (hash, metadata) only — the
  // x19 shape — then a 3-row band rollup.
  private val x313 = GQuery(
    "x313_quality_survival", "ext-dedup curation-audit quality-contingency",
    (s, dir) => {
      val toks = split(col("text"), " ")
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
      docs(s, dir)
        .select(col("doc_id"), xxhash64(col("text")).as("h"),
          size(toks).cast("long").as("n_tokens"),
          (size(array_distinct(toks)).cast("double") / size(toks))
            .as("uniq_ratio"))
        .withColumn("keeper", min(col("doc_id")).over(w))
        .withColumn("band",
          when(col("n_tokens") >= 50 && col("uniq_ratio") >= 0.5, "good")
            .when(col("n_tokens") >= 20 && col("uniq_ratio") >= 0.3, "ok")
            .otherwise("low"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") === col("keeper"), 1L).otherwise(0L))
            .as("n_kept"))
        .select(col("band"), col("n_docs"), col("n_kept"),
          (col("n_docs") - col("n_kept")).as("n_dropped"),
          expr("(1000 * (n_docs - n_kept)) div n_docs").as("drop_milli"))
        .orderBy("band")
    },
    Some("""WITH k AS (
              SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS keeper,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / len(string_split(text, ' ')) AS uniq_ratio
              FROM documents),
            b AS (
              SELECT CASE
                  WHEN n_tokens >= 50 AND uniq_ratio >= 0.5 THEN 'good'
                  WHEN n_tokens >= 20 AND uniq_ratio >= 0.3 THEN 'ok'
                  ELSE 'low' END AS band,
                CASE WHEN doc_id = keeper THEN 1 ELSE 0 END AS kept
              FROM k)
            SELECT band, CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(kept) AS BIGINT) AS n_kept,
              CAST(COUNT(*) - SUM(kept) AS BIGINT) AS n_dropped,
              CAST((1000 * (COUNT(*) - SUM(kept))) // COUNT(*) AS BIGINT)
                AS drop_milli
            FROM b GROUP BY 1 ORDER BY 1"""))

  // ------------------------------------------------------------------- x316
  // Dedup threshold-sensitivity curve — x237's band census turned into
  // the decision table a curation review actually wants: for each
  // candidate Jaccard cutoff (0.5 … 0.9), how many pairs would merge and
  // how many documents are touched? The cutoff where the curve cliffs is
  // the corpus' natural near-dup boundary. Built on the SAME lossless
  // prefix-filter candidates at t = 0.5 (every pair with J ≥ 0.5 is
  // present — so each threshold's row is exact, not an estimate), with
  // the threshold test in pure integers (1000·|∩| ≥ τ·|∪|).
  //
  // Scale shape: x237's candidate plan + a 5-way in-pipeline threshold
  // explode over the (already pair-sized) candidate set and a 5-row
  // rollup; the docs-touched count re-aggregates pair ids, never text.
  private val x316 = GQuery(
    "x316_dedup_threshold_curve", "ext-dedup-fuzzy threshold decision-curve",
    (s, dir) => {
      val sets = shingleSets(docs(s, dir)).localCheckpoint(true)
      val pairs = prefixCandidates(sets, 1, 2)
        .withColumn("inter",
          HashFunctions.intersectLongs(col("sa"), col("sb")))
        .withColumn("un", col("n_a") + col("n_b") - col("inter"))
        .where(col("inter") * 2 >= col("un"))
        .select(col("a_id"), col("b_id"), col("inter"), col("un"))
        // pair-sized checkpoint (round 15): BOTH branches below consume
        // these rows, and without it each re-ran the whole candidate
        // verify — the row's dominant cost — twice (measured: 2 × ~68 MB
        // verify-stage reads, 39 s of duplicated set-intersection CPU)
        .localCheckpoint(true)
      val perTau = pairs.select(col("a_id"), col("b_id"), col("inter"),
          col("un"), explode(expr(
            "array(500L, 600L, 700L, 800L, 900L)")).as("tau_milli"))
        .where(col("inter") * 1000 >= col("tau_milli") * col("un"))
      val nPairs = perTau.groupBy("tau_milli")
        .agg(count(lit(1)).as("n_pairs"))
      val nDocs = perTau
        .select(col("tau_milli"), explode(
          array(col("a_id"), col("b_id"))).as("doc_id"))
        .groupBy("tau_milli")
        .agg(countDistinct(col("doc_id")).as("n_docs"))
      nPairs.join(nDocs, "tau_milli").orderBy("tau_milli")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents),
            sh AS (SELECT doc_id,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               FOR i IN range(1, len(w) - 1)]) AS tok
              FROM t),
            p AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                CAST(len(list_intersect(a.tok, b.tok)) AS BIGINT) AS i,
                CAST(len(a.tok) + len(b.tok)
                  - len(list_intersect(a.tok, b.tok)) AS BIGINT) AS u
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
            tau AS (SELECT unnest([500, 600, 700, 800, 900]) AS tau_milli),
            hit AS (
              SELECT tau.tau_milli, p.a_id, p.b_id
              FROM p, tau WHERE p.i * 1000 >= tau.tau_milli * p.u),
            dc AS (
              SELECT tau_milli, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs
              FROM (SELECT tau_milli, a_id AS d FROM hit
                    UNION ALL SELECT tau_milli, b_id FROM hit)
              GROUP BY 1)
            SELECT CAST(h.tau_milli AS BIGINT) AS tau_milli,
              CAST(COUNT(*) AS BIGINT) AS n_pairs,
              MAX(dc.n_docs) AS n_docs
            FROM hit h JOIN dc ON dc.tau_milli = h.tau_milli
            GROUP BY h.tau_milli ORDER BY 1"""))

  // ------------------------------------------------------------------- x327
  // Source near-dup overlap matrix — WHO copies from WHOM: x225's exact
  // J ≥ 0.8 pairs attributed to the (source, source) grid. Off-diagonal
  // mass is cross-source duplication (mirrors, scrapers scraping each
  // other); a curation review drops or down-weights the copying source,
  // not individual documents. Pair sources are normalized
  // (least, greatest) so each unordered source pair lands in one cell.
  //
  // Scale shape: x225's candidate plan + two doc-keyed source lookups
  // and a source²-grid rollup.
  private val x327 = GQuery(
    "x327_source_overlap_matrix", "ext-dedup-fuzzy provenance-matrix",
    (s, dir) => {
      val d = docs(s, dir)
      val sets = shingleSets(d).localCheckpoint(true)
      val pairs = prefixCandidates(sets, 4, 5)
        .where(HashFunctions.jaccardLongs(col("sa"), col("sb")) >= 0.8)
        .select(col("a_id"), col("b_id"))
      val src = d.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("a_id"),
          col("source").as("src_a0")), "a_id")
        .join(src.select(col("doc_id").as("b_id"),
          col("source").as("src_b0")), "b_id")
        .select(least(col("src_a0"), col("src_b0")).as("src_a"),
          greatest(col("src_a0"), col("src_b0")).as("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("src_a", "src_b")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents),
            sh AS (SELECT doc_id,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               FOR i IN range(1, len(w) - 1)]) AS tok
              FROM t),
            pairs AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                / (len(a.tok) + len(b.tok)
                   - len(list_intersect(a.tok, b.tok))) >= 0.8)
            SELECT least(da.source, db.source) AS src_a,
              greatest(da.source, db.source) AS src_b,
              CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM pairs p
            JOIN documents da ON da.doc_id = p.a_id
            JOIN documents db ON db.doc_id = p.b_id
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ------------------------------------------------------------------- x328
  // Dedup savings in BYTES — x294 counts what exact dedup drops; this
  // prices it: characters (≈ bytes for this corpus) a keeper-only corpus
  // stops storing, scanning and tokenizing, total and as a milli share.
  // The one number that turns a dedup proposal into a storage/compute
  // budget line. Exact-duplicate groups by full-text identity (the
  // x01 min-doc_id keeper rule).
  //
  // Scale shape: the x19 shape — content hash + length computed in the
  // scan projection, the group window shuffles (hash, len) only, one
  // 1-row rollup.
  private val x328 = GQuery(
    "x328_dedup_savings", "ext-dedup storage-budget savings",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
      docs(s, dir)
        .select(col("doc_id"), xxhash64(col("text")).as("h"),
          length(col("text")).cast("long").as("len"))
        .withColumn("keeper", min(col("doc_id")).over(w))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("len")).as("total_chars"),
          sum(when(col("doc_id") =!= col("keeper"), 1L).otherwise(0L))
            .as("n_dropped"),
          sum(when(col("doc_id") =!= col("keeper"), col("len"))
            .otherwise(0L)).as("chars_saved"))
        .select(col("n_docs"), col("n_dropped"), col("total_chars"),
          col("chars_saved"),
          expr("(1000 * chars_saved) div total_chars").as("saved_milli"))
    },
    Some("""WITH k AS (
              SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS keeper,
                CAST(length(text) AS BIGINT) AS len
              FROM documents)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
              CAST(SUM(len) AS BIGINT) AS total_chars,
              CAST(SUM(CASE WHEN doc_id <> keeper THEN len ELSE 0 END)
                AS BIGINT) AS chars_saved,
              CAST((1000 * SUM(CASE WHEN doc_id <> keeper THEN len
                ELSE 0 END)) // SUM(len) AS BIGINT) AS saved_milli
            FROM k"""))

  // ------------------------------------------------------------------ x332
  // MinHash + LSH banding, ORACLED EXACT TWIN of x03: the identical
  // decision pipeline — word-3-gram shingles → K=16 min-hash signature →
  // 4 bands of 4 → per-bucket min-doc_id candidate keeper → signature-
  // agreement verify (>= 14/16 ≈ the 0.85 estimated-Jaccard threshold) →
  // corpus cover — but with the ONE non-reproducible ingredient swapped:
  // the K seeded xxhash64 permutations become K md5-derived hash
  // functions (hash 2j / 2j+1 = the low / high 16 HEX CHARS of
  // md5(j || ':' || shingle), kept as strings: fixed-width lowercase
  // hex orders lexicographically exactly as the unsigned value, so MIN
  // works engine-identically with no conv/DECIMAL on the hot path, and
  // one digest feeds two family members). The
  // whole MinHash ESTIMATION algorithm — banding recall, bucket keeper
  // choice, agreement verify — hash-verifies cross-engine, not just the
  // exact-Jaccard selection x225 pins. Upgrades the no-oracle-twin-audit
  // entry for x03 from the lossless-pairs proxy to the algorithm itself.
  //
  // Scale shape is x03's: the K per-shingle hashes stay INSIDE one
  // projection (an array column), the signature is K map-side-
  // combinable column MINs in a single doc_id aggregate — no
  // (doc, k)-exploded shuffle; banding shuffles (band_key, doc_id)
  // pairs, candidate verify is a doc_id equi-join, text never shuffles.
  // The K md5 calls per shingle are the audit-tier price; the
  // production operator stays x03 (one native xxhash64 per token +
  // rolling combine).
  /** K md5-derived min-hash signature values per doc over a (doc_id, sh)
    * string-shingle frame, as an array<string> of LOW-16-HEX slices:
    * fixed-width lowercase hex orders lexicographically exactly as the
    * unsigned 64-bit value, so the per-column MINs are engine-exact with
    * no numeric conversion, map-side combinable, and the exchange carries
    * exactly K short strings per doc. Shared by x332 (K = 16) and x340
    * (K = 32 — the same nested hash family, config K reads hashes
    * 0..K−1).
    */
  /** Word-3-gram string-shingle frame of the md5-hex twin family —
    * inline in x332 until round 14, extracted so x405's stored index
    * builds from the IDENTICAL projection.
    */
  private def hexShingles(d: DataFrame): DataFrame =
    wordTrigrams(Par.fanOutScan(d, "doc_id"))

  /** (doc_id, sh): each document's distinct word 3-grams as strings. */
  private def wordTrigrams(d: DataFrame): DataFrame = d
    .select(col("doc_id"), split(col("text"), " ").as("w"))
    .where(size(col("w")) >= 3)
    .select(col("doc_id"), explode(expr(
      """array_distinct(transform(sequence(0, size(w) - 3),
           i -> concat_ws(' ', w[i], w[i + 1], w[i + 2])))""")).as("sh"))

  /** String band keys over an md5-hex signature (4 rows per band): the
    * band id prefixed to the comma-joined slice — engine-neutral (plain
    * string equality both sides). Shared by x332 (4 bands over K = 16)
    * and x405 (8 bands over K = 32, the x66 geometry).
    */
  private def hexBandKeys(sigs: DataFrame, bands: Int): DataFrame = {
    val keys = expr(
      s"""transform(sequence(0, ${bands - 1}),
           b -> concat(b, ':', concat_ws(',', slice(sig, b * 4 + 1, 4))))""")
    sigs.select(col("doc_id"), explode(keys).as("bkey"))
  }

  private def minhashHexSigs(sh: DataFrame, k: Int): DataFrame = {
    // one md5 yields TWO independent 64-bit members (hash 2j = low hex
    // half of md5(j:sh), hash 2j+1 = high hex half): k functions cost
    // k/2 md5 calls; the inner transform materializes each digest once.
    // (Round 15 A/B: a flat-column form — 8 md5 projections + substring
    // mins, no nested arrays — was measured SLOWER on the same subset
    // (x332 1.53 -> 2.0 s, x340 2.76 -> 3.2 s) and rejected; the array
    // form keeps the digest loop in one generated expression.)
    val mins = (0 until k).map(i => min(col("hs").getItem(i)).as(s"m$i"))
    sh.select(col("doc_id"), expr(
        s"""flatten(transform(
              transform(sequence(0, ${k / 2 - 1}), j -> md5(concat(j, ':', sh))),
              h -> array(substring(h, 17, 16), substring(h, 1, 16))))""")
        .as("hs"))
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  private val x332 = GQuery(
    "x332_minhash_exact", "ext-dedup-fuzzy oracled-twin",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("bkey"))
      val sig = minhashHexSigs(hexShingles(docs(s, dir)), 16)
        .localCheckpoint(true) // reused: banding + both verify sides
      val cand = hexBandKeys(sig, 4)
        .withColumn("bucket_min", min(col("doc_id")).over(w))
        .groupBy(col("doc_id")).agg(min(col("bucket_min")).as("cand"))
        .where(col("cand") < col("doc_id"))
      val verified = cand
        .join(sig, Seq("doc_id"))
        .join(sig.select(col("doc_id").as("cand"), col("sig").as("csig")), Seq("cand"))
        .select(col("doc_id"), col("cand"),
          expr("CAST(size(filter(sequence(0, 15), i -> sig[i] = csig[i])) AS BIGINT)")
            .as("n_agree"))
        .where(col("n_agree") >= 14)
      docs(s, dir).select(col("doc_id"))
        .join(verified, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cand"), col("doc_id")).as("keeper"),
          coalesce(col("n_agree"), lit(16L)).as("n_agree"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                     range(len(w) - 2),
                     i -> w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3]))) AS sh
                   FROM w WHERE len(w) >= 3),
            hx AS (SELECT doc_id, k,
                     MIN(CASE WHEN k % 2 = 0
                         THEN substr(md5(CAST(k // 2 AS VARCHAR) || ':' || sh), 17, 16)
                         ELSE substr(md5(CAST(k // 2 AS VARCHAR) || ':' || sh), 1, 16)
                         END) AS mh
                   FROM sh CROSS JOIN (SELECT unnest(range(16)) AS k)
                   GROUP BY 1, 2),
            sig AS (SELECT doc_id, list(mh ORDER BY k) AS sig
                    FROM hx GROUP BY 1),
            band AS (SELECT doc_id, unnest(list_transform(range(4),
                       b -> CAST(b AS VARCHAR) || ':' ||
                            array_to_string(sig[b * 4 + 1 : b * 4 + 4], ','))) AS bkey
                     FROM sig),
            bmin AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY bkey) AS bucket_min
                     FROM band),
            cand AS (SELECT doc_id, MIN(bucket_min) AS cand FROM bmin
                     GROUP BY doc_id HAVING MIN(bucket_min) < doc_id),
            ver AS (SELECT c.doc_id, c.cand,
                      CAST(len(list_filter(range(16),
                        i -> s1.sig[i + 1] = s2.sig[i + 1])) AS BIGINT) AS n_agree
                    FROM cand c
                    JOIN sig s1 ON s1.doc_id = c.doc_id
                    JOIN sig s2 ON s2.doc_id = c.cand)
            SELECT d.doc_id,
              COALESCE(v.cand, d.doc_id) AS keeper,
              COALESCE(v.n_agree, CAST(16 AS BIGINT)) AS n_agree
            FROM documents d
            LEFT JOIN (SELECT * FROM ver WHERE n_agree >= 14) v USING (doc_id)
            ORDER BY d.doc_id"""))

  // ------------------------------------------------------------------ x333
  // SimHash near-dup, ORACLED EXACT TWIN of x04: the same 64-bit SimHash
  // pipeline — word-bigram features weighted by term frequency, per-bit
  // vote sum, 4 × 16-bit chunk blocking (pigeonhole for Hamming <= 3),
  // bit_count(xor) <= 8 verify against the per-chunk min-doc_id keeper,
  // corpus cover — re-keyed to md5-derived feature hashes so every vote,
  // every chunk bucket, and every Hamming distance reproduces in DuckDB.
  // The signature travels as the SET of positive-vote bit positions
  // (sorted int list), which makes the bit arithmetic engine-neutral:
  // chunk c's 16-bit value == the sublist of bits in [16c, 16c+16), and
  // hamming(a, b) == |a Δ b| = 2|a ∪ b| − |a| − |b|. Bit b of h(g) comes
  // from the two 32-bit md5 halves via shiftright/&1 — identical integer
  // ops both engines.
  //
  // Scale shape: the signature is one native pass per doc
  // (Md5SimHashBits: bigram md5 votes folded in the row, no exploded
  // bigram rows, no shuffle); buckets and verify shuffle only
  // (chunk_key, doc_id) and bit-position lists. Production operator
  // stays x04 (native SimHash64, xxhash-keyed, one pass per doc).
  /** md5-keyed SimHash positive-vote bit positions per doc — the
    * cross-engine-exact signature shared by the x333 tier, its x348
    * precision/recall advisor and x356's keeper labeling (the x31
    * no-drift discipline: one definition, three consumers; a vote-rule or
    * hash-prefix change can never desynchronize the advisor from the tier
    * it advises). The per-doc fold is the [[graft.functions.Md5SimHashBits]]
    * kernel, whose scaladoc gives the hash and vote rule the oracle SQL
    * spells out; docs with fewer than 2 words have no bigram and no row.
    * Returns (doc_id, bits) localCheckpoint'ed — every consumer reads it
    * at least twice (blocking + verify sides).
    */
  private def simhashBits(d: DataFrame): DataFrame =
    Par.fanOutScan(d, "doc_id")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), HashFunctions.md5SimhashBits(col("w")).as("bits"))
      .localCheckpoint(true)

  /** The registry's standard lossless truth tier at τ = 1/2: every doc
    * pair with exact 3-gram-shingle Jaccard ≥ 500‰ (integer millis),
    * via the audited prefix-filter join. Shared by the x340 (MinHash
    * slicing) and x348 (SimHash threshold) advisors — the recall
    * denominator both tuning tables are charged against must be ONE
    * definition. Returns (a_id, b_id, j_milli).
    */
  private def truthPairsAtHalf(sets: DataFrame): DataFrame =
    prefixCandidates(sets, 1, 2)
      .withColumn("inter",
        HashFunctions.intersectLongs(col("sa"), col("sb")))
      .withColumn("j_milli", expr("(1000 * inter) div (n_a + n_b - inter)"))
      .where(col("j_milli") >= 500)
      .select(col("a_id"), col("b_id"), col("j_milli"))

  private val x333 = GQuery(
    "x333_simhash_exact", "ext-dedup-fuzzy oracled-twin",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("ckey"))
      val sig = simhashBits(docs(s, dir))
      val cand = sig
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, 3),
               c -> concat(c, ':', concat_ws(',', filter(bits, b -> (b div 16) = c))))"""))
          .as("ckey"))
        .withColumn("bucket_min", min(col("doc_id")).over(w))
        .groupBy(col("doc_id")).agg(min(col("bucket_min")).as("cand"))
        .where(col("cand") < col("doc_id"))
      val verified = cand
        .join(sig, Seq("doc_id"))
        .join(sig.select(col("doc_id").as("cand"), col("bits").as("cbits")), Seq("cand"))
        .select(col("doc_id"), col("cand"),
          expr("""CAST(2 * size(array_union(bits, cbits))
                  - size(bits) - size(cbits) AS BIGINT)""").as("hamming"))
        .where(col("hamming") <= 8)
      docs(s, dir).select(col("doc_id"))
        .join(verified, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cand"), col("doc_id")).as("keeper"),
          coalesce(col("hamming"), lit(0L)).as("hamming"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            tf AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM (
                     SELECT doc_id, unnest(list_transform(range(len(w) - 1),
                       i -> w[i + 1] || ' ' || w[i + 2])) AS g
                     FROM w WHERE len(w) >= 2) GROUP BY 1, 2),
            hh AS (SELECT doc_id, c,
                     CAST(CAST(CONCAT('0x', substr(md5('s:' || g), 17, 8))
                       AS UBIGINT) AS BIGINT) AS hi,
                     CAST(CAST(CONCAT('0x', substr(md5('s:' || g), 25, 8))
                       AS UBIGINT) AS BIGINT) AS lo
                   FROM tf),
            bv AS (SELECT doc_id, b,
                     SUM(CASE WHEN (((CASE WHEN b < 32 THEN (lo >> CAST(b AS INTEGER))
                                     ELSE (hi >> CAST(b - 32 AS INTEGER)) END) & 1) = 1)
                         THEN c ELSE -c END) AS s
                   FROM hh CROSS JOIN (SELECT unnest(range(64)) AS b)
                   GROUP BY 1, 2),
            sig AS (SELECT doc_id,
                      COALESCE(list(b ORDER BY b) FILTER (WHERE s > 0),
                        CAST([] AS BIGINT[])) AS bits
                    FROM bv GROUP BY 1),
            band AS (SELECT doc_id, unnest(list_transform(range(4),
                       c -> CAST(c AS VARCHAR) || ':' || array_to_string(
                         list_filter(bits, b -> b // 16 = c), ','))) AS ckey
                     FROM sig),
            bmin AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY ckey) AS bucket_min
                     FROM band),
            cand AS (SELECT doc_id, MIN(bucket_min) AS cand FROM bmin
                     GROUP BY doc_id HAVING MIN(bucket_min) < doc_id),
            ver AS (SELECT c.doc_id, c.cand,
                      CAST(2 * len(list_distinct(s1.bits || s2.bits))
                        - len(s1.bits) - len(s2.bits) AS BIGINT) AS hamming
                    FROM cand c
                    JOIN sig s1 ON s1.doc_id = c.doc_id
                    JOIN sig s2 ON s2.doc_id = c.cand)
            SELECT d.doc_id,
              COALESCE(v.cand, d.doc_id) AS keeper,
              COALESCE(v.hamming, CAST(0 AS BIGINT)) AS hamming
            FROM documents d
            LEFT JOIN (SELECT * FROM ver WHERE hamming <= 8) v USING (doc_id)
            ORDER BY d.doc_id"""))

  // ------------------------------------------------------------------ x340
  // LSH parameter tuning curve — the empirical S-curve behind
  // x03/x332's banding choice, asked the way an operator actually faces
  // it: the signature budget is FIXED at K = 16 hashes (the x332
  // family), and the knob is how to slice it into bands — (b=2, r=8),
  // (b=4, r=4), (b=8, r=2). Take EVERY true pair with exact Jaccard
  // >= 0.5 (the lossless prefix-filter tier at τ = 1/2), band it by its
  // integer Jaccard millis (500s…900s), and measure per (slicing, band)
  // the probability the scheme surfaces the pair as a candidate, and
  // the (slicing-independent) ceil(0.85·16) agreement verify keeps it.
  // This is detection-probability-vs-similarity — the 1−(1−s^r)^b curve
  // from the MinHash literature, measured instead of assumed, at
  // constant hashing cost per point. The md5-keyed hash family (x332)
  // makes every cell cross-engine exact; ONE 16-hash signature serves
  // all three slicings. Exact Jaccard is kept in integers
  // ((1000·|∩|) div |∪|), never a float.
  //
  // The fixture's organic near-dups all sit in the 900s band, so the
  // curve's mid-similarity points are PLANTED (the x142/x34
  // plant-then-detect discipline): docs 0-39 get a deterministic
  // degraded twin (doc_id + 10000) with every m-th token marked, m ∈
  // {10, 14, 22, 44} by doc_id residue — a replaced token kills the 3
  // shingles covering it, so the four rates land the planted pairs
  // across the 500-800 bands. Both engines build the identical mutant
  // corpus from the same string arithmetic.
  //
  // Scale shape: one shingle scan → 16-hash min-aggregate → per-slicing
  // band keys (14 skinny rows per doc across all three); candidate
  // pairs are LSH bucket pairs under a 32-doc hot-bucket cap — the
  // production discipline (a near-empty band key is boilerplate
  // gravity, exactly like x145's MaxDf posting cap), and the thing that
  // keeps the r=2 slicing's fan-out bounded at corpus scale; the truth
  // side is the audited lossless prefix-filter join. Output: one row
  // per (slicing, populated J-band); catch rates are measured UNDER the
  // cap, i.e. what the capped production pipeline would really see.
  private val x340 = GQuery(
    "x340_lsh_tuning_curve", "ext-dedup-fuzzy lsh-parameter advisor",
    (s, dir) => {
      val mut = docs(s, dir).where(col("doc_id") < 40)
        .withColumn("m", expr(
          """CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 10 WHEN 1 THEN 14
             WHEN 2 THEN 22 ELSE 44 END"""))
        .select((col("doc_id") + 10000L).as("doc_id"),
          expr("""array_join(transform(split(text, ' '),
               (t, i) -> CASE WHEN (i + 1) % m = 0 THEN concat(t, '~')
                         ELSE t END), ' ')""").as("text"))
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
        .unionAll(mut)
        // fan the kernel input out BEFORE the checkpoint (round 15): the
        // checkpoint otherwise pins the scan's 1-4 byte-sized partitions
        // and every md5 signature pass downstream inherits them
        .transform(Par.fanOutScan(_, "doc_id"))
        .localCheckpoint(true) // md5 sig side + xxhash truth side
      val sh = wordTrigrams(corpus)
      val sig16 = minhashHexSigs(sh, 16)
        .localCheckpoint(true) // sliced by every config; both pair sides
      val banded = sig16
        .select(col("doc_id"), explode(expr("array(2, 4, 8)")).as("rr"), col("sig"))
        .select(col("doc_id"), col("rr"), explode(expr(
          """transform(sequence(0, 16 div rr - 1),
               b -> concat(rr, ':', b, ':', concat_ws(',', slice(sig, b * rr + 1, rr))))"""))
          .as("bkey"))
      val wB = org.apache.spark.sql.expressions.Window.partitionBy(col("bkey"))
      val capped = banded
        .withColumn("bsz", count(lit(1)).over(wB))
        .where(col("bsz") <= 32)
      val cand = capped.as("a")
        .join(capped.as("b"),
          col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.rr").as("rr"), col("a.doc_id").as("a_id"),
          col("b.doc_id").as("b_id"))
        .distinct()
      val est = cand
        .transform(Par.fanOutJoin(_, col("a_id"), col("b_id")))
        .join(sig16.select(col("doc_id").as("a_id"), col("sig").as("sa")), "a_id")
        .join(sig16.select(col("doc_id").as("b_id"), col("sig").as("sb")), "b_id")
        .withColumn("agree",
          expr("size(filter(sequence(0, 15), i -> sa[i] = sb[i]))"))
        .withColumn("pass", (col("agree") >= 14).cast("long"))
        .select(col("rr"), col("a_id"), col("b_id"), lit(1L).as("caught"),
          col("pass"))
      val sets = shingleSets(corpus).localCheckpoint(true)
      val truth = truthPairsAtHalf(sets) // shared with x348 — one truth
        .select(col("a_id"), col("b_id"),
          least(expr("(j_milli div 100) * 100"), lit(900L)).as("j_band"))
      truth
        .select(col("a_id"), col("b_id"), col("j_band"),
          explode(expr("array(2, 4, 8)")).as("rr"))
        .join(est, Seq("rr", "a_id", "b_id"), "left")
        .groupBy(col("rr"), col("j_band"))
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("caught"), lit(0L))).as("n_candidates"),
          sum(coalesce(col("pass"), lit(0L))).as("n_verified"))
        .select(col("rr").cast("long").as("rows_per_band"),
          expr("CAST(16 div rr AS BIGINT)").as("n_bands"),
          col("j_band"), col("n_true"), col("n_candidates"), col("n_verified"),
          expr("(1000 * n_candidates) div n_true").as("catch_milli"),
          expr("(1000 * n_verified) div n_true").as("verified_milli"))
        .orderBy("rows_per_band", "j_band")
    },
    Some("""WITH mut AS (
              SELECT doc_id + 10000 AS doc_id,
                array_to_string(list_transform(range(len(w0)),
                  i -> CASE WHEN (i + 1) % m = 0 THEN w0[i + 1] || '~'
                       ELSE w0[i + 1] END), ' ') AS text
              FROM (SELECT doc_id, string_split(text, ' ') AS w0,
                      CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 10
                           WHEN 1 THEN 14 WHEN 2 THEN 22 ELSE 44 END AS m
                    FROM documents WHERE doc_id < 40)),
            corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL SELECT doc_id, text FROM mut),
            w AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
            shs AS (SELECT doc_id, unnest(list_distinct(list_transform(
                      range(len(w) - 2),
                      i -> w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3]))) AS sh
                    FROM w WHERE len(w) >= 3),
            hx AS (SELECT doc_id, k,
                     MIN(CASE WHEN k % 2 = 0
                         THEN substr(md5(CAST(k // 2 AS VARCHAR) || ':' || sh), 17, 16)
                         ELSE substr(md5(CAST(k // 2 AS VARCHAR) || ':' || sh), 1, 16)
                         END) AS mh
                   FROM shs CROSS JOIN (SELECT unnest(range(16)) AS k)
                   GROUP BY 1, 2),
            sig AS (SELECT doc_id, list(mh ORDER BY k) AS sig
                    FROM hx GROUP BY 1),
            band AS (SELECT doc_id, rr, CAST(rr AS VARCHAR) || ':' ||
                       CAST(b AS VARCHAR) || ':' ||
                       array_to_string(sig[b * rr + 1 : b * rr + rr], ',') AS bkey
                     FROM sig
                     CROSS JOIN (SELECT unnest([2, 4, 8]) AS rr)
                     CROSS JOIN (SELECT unnest(range(8)) AS b)
                     WHERE b < 16 // rr),
            bandc AS (SELECT *, COUNT(*) OVER (PARTITION BY bkey) AS bsz
                      FROM band),
            cand AS (SELECT DISTINCT a.rr, a.doc_id AS a_id, b.doc_id AS b_id
                     FROM bandc a JOIN bandc b
                       ON a.bkey = b.bkey AND a.doc_id < b.doc_id
                     WHERE a.bsz <= 32),
            est AS (SELECT c.rr, c.a_id, c.b_id, 1 AS caught,
                      CASE WHEN CAST(len(list_filter(range(16),
                          i -> s1.sig[i + 1] = s2.sig[i + 1])) AS BIGINT)
                          >= 14 THEN 1 ELSE 0 END AS pass
                    FROM cand c
                    JOIN sig s1 ON s1.doc_id = c.a_id
                    JOIN sig s2 ON s2.doc_id = c.b_id),
            tok AS (SELECT doc_id,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               for i in range(1, len(w) - 1)]) AS tok
              FROM w),
            truth AS (SELECT a_id, b_id,
                        LEAST((j_milli // 100) * 100, 900) AS j_band
                      FROM (
                        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                          (1000 * CAST(len(list_intersect(a.tok, b.tok))
                            AS BIGINT))
                          // (len(a.tok) + len(b.tok)
                             - len(list_intersect(a.tok, b.tok))) AS j_milli
                        FROM tok a JOIN tok b ON a.doc_id < b.doc_id
                        WHERE len(list_intersect(a.tok, b.tok)) > 0)
                      WHERE j_milli >= 500),
            fan AS (SELECT truth.*, rr
                    FROM truth
                    CROSS JOIN (SELECT unnest([2, 4, 8]) AS rr)),
            agg AS (SELECT fan.rr, fan.j_band,
                      CAST(COUNT(*) AS BIGINT) AS n_true,
                      CAST(SUM(COALESCE(est.caught, 0)) AS BIGINT)
                        AS n_candidates,
                      CAST(SUM(COALESCE(est.pass, 0)) AS BIGINT)
                        AS n_verified
                    FROM fan LEFT JOIN est
                      ON fan.rr = est.rr AND fan.a_id = est.a_id
                         AND fan.b_id = est.b_id
                    GROUP BY 1, 2)
            SELECT CAST(rr AS BIGINT) AS rows_per_band,
              CAST(16 // rr AS BIGINT) AS n_bands,
              CAST(j_band AS BIGINT) AS j_band, n_true, n_candidates,
              n_verified,
              CAST((1000 * n_candidates) // n_true AS BIGINT) AS catch_milli,
              CAST((1000 * n_verified) // n_true AS BIGINT) AS verified_milli
            FROM agg ORDER BY rows_per_band, j_band"""))

  // ------------------------------------------------------------------ x348
  // Precision/recall of the SimHash tier against the exact truth tier —
  // x340 answers "which LSH slicing?" for MinHash; this answers the same
  // tuning question for SimHash's hamming threshold: at τ ∈ {4,8,12,16}
  // bits, what fraction of surfaced pairs are true near-dups (precision) and
  // what fraction of true pairs surface at all (recall, charged against
  // the FULL truth — pairs the 4-chunk blocking never sees count as
  // misses, so the number is honest about the blocking, not just the
  // threshold). Signature and chunk blocking are the x333 md5 pipeline
  // verbatim; truth is the registry's standard lossless tier (3-gram
  // prefix-filter, integer J millis ≥ 500). Every cell is an integer
  // count or a floor-division milli ratio.
  //
  // Scale shape: one bigram scan with a native signature fold per doc
  // (shared simhashBits); candidate pairs
  // are chunk-bucket joins under the 32-doc hot-bucket cap (the x340
  // discipline); the τ sweep explodes the PAIR tables (both bounded),
  // never the corpus. The two 4-row summaries meet in a tau-keyed join.
  private val x348 = GQuery(
    "x348_simhash_pr_eval", "ext-dedup-fuzzy simhash threshold eval",
    (s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val sig = simhashBits(corpus) // shared with x333 — no drift
      val wB = org.apache.spark.sql.expressions.Window.partitionBy(col("ckey"))
      val chunks = sig
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, 3),
               c -> concat(c, ':', concat_ws(',', filter(bits, b -> (b div 16) = c))))"""))
          .as("ckey"))
        .withColumn("bsz", count(lit(1)).over(wB))
        .where(col("bsz") <= 32)
      val pred = chunks.as("a")
        .join(chunks.as("b"),
          col("a.ckey") === col("b.ckey") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
        .transform(Par.fanOutJoin(_, col("a_id"), col("b_id")))
        .join(sig.select(col("doc_id").as("a_id"), col("bits").as("ba")), "a_id")
        .join(sig.select(col("doc_id").as("b_id"), col("bits").as("bb")), "b_id")
        .select(col("a_id"), col("b_id"),
          expr("CAST(2 * size(array_union(ba, bb)) - size(ba) - size(bb) AS BIGINT)")
            .as("hamming"))
        .localCheckpoint(true) // tau sweep reads it per side
      val sets = shingleSets(corpus).localCheckpoint(true)
      val truth = truthPairsAtHalf(sets) // shared with x340 — one truth
        .select(col("a_id"), col("b_id"))
      val taus = explode(expr("array(4L, 8L, 12L, 16L)")).as("tau")
      val recallSide = truth
        .select(col("a_id"), col("b_id"), taus)
        .join(pred, Seq("a_id", "b_id"), "left")
        .groupBy(col("tau"))
        .agg(count(lit(1)).as("n_true"),
          sum(when(col("hamming") <= col("tau"), 1L).otherwise(0L)).as("tp"))
      val predSide = pred
        .select(col("hamming"), taus)
        .where(col("hamming") <= col("tau"))
        .groupBy(col("tau"))
        .agg(count(lit(1)).as("n_pred"))
      recallSide.join(predSide, Seq("tau"), "left")
        .select(col("tau"), col("n_true"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"), col("tp"),
          expr("""cast(case when coalesce(n_pred, 0) > 0
               then (1000 * tp) div n_pred end as bigint)""")
            .as("precision_milli"),
          expr("cast((1000 * tp) div n_true as bigint)").as("recall_milli"))
        .orderBy("tau")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            tf AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM (
                     SELECT doc_id, unnest(list_transform(range(len(w) - 1),
                       i -> w[i + 1] || ' ' || w[i + 2])) AS g
                     FROM w WHERE len(w) >= 2) GROUP BY 1, 2),
            hh AS (SELECT doc_id, c,
                     CAST(CAST(CONCAT('0x', substr(md5('s:' || g), 17, 8))
                       AS UBIGINT) AS BIGINT) AS hi,
                     CAST(CAST(CONCAT('0x', substr(md5('s:' || g), 25, 8))
                       AS UBIGINT) AS BIGINT) AS lo
                   FROM tf),
            vt AS (SELECT doc_id, b,
                     SUM(CASE WHEN (((CASE WHEN b < 32 THEN (lo >> CAST(b AS INTEGER))
                                     ELSE (hi >> CAST(b - 32 AS INTEGER)) END) & 1) = 1)
                         THEN c ELSE -c END) AS v
                   FROM hh CROSS JOIN (SELECT unnest(range(64)) AS b)
                   GROUP BY 1, 2),
            sig AS (SELECT doc_id,
                      COALESCE(list(b ORDER BY b) FILTER (WHERE v > 0),
                        CAST([] AS BIGINT[])) AS bits
                    FROM vt GROUP BY 1),
            ck AS (SELECT doc_id, unnest(list_transform(range(4),
                     ch -> CAST(ch AS VARCHAR) || ':' || array_to_string(
                       list_filter(bits, b -> b // 16 = ch), ','))) AS ckey
                   FROM sig),
            ckc AS (SELECT *, COUNT(*) OVER (PARTITION BY ckey) AS bsz
                    FROM ck),
            cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                     FROM ckc a JOIN ckc b
                       ON a.ckey = b.ckey AND a.doc_id < b.doc_id
                     WHERE a.bsz <= 32),
            pred AS (SELECT c.a_id, c.b_id,
                       CAST(2 * len(list_distinct(s1.bits || s2.bits))
                         - len(s1.bits) - len(s2.bits) AS BIGINT) AS hamming
                     FROM cand c
                     JOIN sig s1 ON s1.doc_id = c.a_id
                     JOIN sig s2 ON s2.doc_id = c.b_id),
            tok AS (SELECT doc_id,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               for i in range(1, len(w) - 1)]) AS tok
              FROM w),
            truth AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
                      FROM tok a JOIN tok b ON a.doc_id < b.doc_id
                      WHERE len(list_intersect(a.tok, b.tok)) > 0
                        AND (1000 * CAST(len(list_intersect(a.tok, b.tok))
                          AS BIGINT))
                          // (len(a.tok) + len(b.tok)
                             - len(list_intersect(a.tok, b.tok))) >= 500),
            taus AS (SELECT CAST(unnest([4, 8, 12, 16]) AS BIGINT) AS tau),
            rs AS (SELECT tau, CAST(COUNT(*) AS BIGINT) AS n_true,
                     CAST(SUM(CASE WHEN pred.hamming <= tau THEN 1 ELSE 0 END)
                       AS BIGINT) AS tp
                   FROM truth CROSS JOIN taus
                   LEFT JOIN pred ON truth.a_id = pred.a_id
                     AND truth.b_id = pred.b_id
                   GROUP BY 1),
            ps AS (SELECT tau, CAST(COUNT(*) AS BIGINT) AS n_pred
                   FROM pred CROSS JOIN taus
                   WHERE hamming <= tau GROUP BY 1)
            SELECT rs.tau, rs.n_true,
              COALESCE(ps.n_pred, 0) AS n_pred, rs.tp,
              CAST(CASE WHEN COALESCE(ps.n_pred, 0) > 0
                THEN (1000 * rs.tp) // ps.n_pred END AS BIGINT)
                AS precision_milli,
              CAST((1000 * rs.tp) // rs.n_true AS BIGINT) AS recall_milli
            FROM rs LEFT JOIN ps ON rs.tau = ps.tau ORDER BY rs.tau"""))

  // ------------------------------------------------------------------ x356
  // Clustering agreement between dedup tiers — Rand index and Adjusted
  // Rand Index (Hubert & Arabie 1985) between the EXACT cluster tier
  // (x236's transitive J ≥ 0.8 clusters) and the SimHash tier's keeper
  // labeling (x333, shared fn — the x31 no-drift discipline): x348
  // grades the tier pair-by-pair; this grades the PARTITIONS it induces,
  // the number a curation review quotes when deciding whether the cheap
  // tier can stand in for the lossless one. All pair-counting runs on
  // group sizes, never pairs: with doubled-pair terms P• = Σ x(x−1),
  // Σ_i a_i(a_i−1) = Σ_cells n_ij(a_i−1) — so ONE pass over the
  // (ka, kb) contingency table with two partition windows yields every
  // term, and RI / ARI are single floor divisions of DECIMAL(38,0)
  // products. Headroom: the binding ARI term 2000·(P_ij·P_N − P_a·P_b)
  // is worst-case ~2000·n⁴ (one giant cluster), crossing the 10³⁸
  // DECIMAL ceiling at n ≈ 1.5·10⁸ docs — past that the census runs on
  // the keeper-sampled corpus. The SimHash keeper labeling is one-step
  // (doc → its bucket keeper), not transitively closed — exactly the
  // production shape whose agreement with the closed tier is the
  // question.
  //
  // Scale shape: two label tables (doc-domain), one join on doc_id, a
  // contingency rollup (cluster-domain), windows over it, a 1-row fold.
  // The SimHash side re-runs x333's live pipeline — the deliberate
  // trade: the exact side reads the storedClusters artifact because its
  // build is iterative; the SimHash build is one native pass per doc,
  // and storing it would put a second lifecycle between the oracled
  // tier and its consumers to save that one pass. The cluster counts
  // are count_if over one row per ka / kb window partition, the row
  // holding the partition's least other key ((ka, kb) is unique in the
  // contingency table and both keys are non-null, so this is
  // COUNT(DISTINCT)), not countDistinct: a distinct-aggregate Expand
  // orders its projections by expression ids, which vary between plan
  // builds, so each order compiled its own classes.
  private val x356 = GQuery(
    "x356_clustering_agreement", "ext-dedup-fuzzy tier-agreement rand-ari",
    (s, dir) => {
      val a = storedClusters(s, dir)
        .select(col("doc_id"), col("keeper").as("ka"))
      val b = x333.fn(s, dir)
        .select(col("doc_id"), col("keeper").as("kb"))
      val ct = a.join(b, "doc_id")
        .groupBy(col("ka"), col("kb")).agg(count(lit(1)).as("nij"))
      val wa = org.apache.spark.sql.expressions.Window.partitionBy(col("ka"))
      val wb = org.apache.spark.sql.expressions.Window.partitionBy(col("kb"))
      ct.withColumn("ai", sum(col("nij")).over(wa))
        .withColumn("kb_min", min(col("kb")).over(wa))
        .withColumn("bj", sum(col("nij")).over(wb))
        .withColumn("ka_min", min(col("ka")).over(wb))
        .agg(sum(col("nij")).cast("decimal(38,0)").as("n"),
          count_if(col("kb") === col("kb_min")).as("clusters_exact"),
          count_if(col("ka") === col("ka_min")).as("clusters_simhash"),
          sum(expr("cast(nij as decimal(38,0)) * (nij - 1)")).as("pij"),
          sum(expr("cast(nij as decimal(38,0)) * (ai - 1)")).as("pa"),
          sum(expr("cast(nij as decimal(38,0)) * (bj - 1)")).as("pb"))
        .withColumn("pn", expr("n * (n - 1)"))
        .select(expr("cast(n as bigint)").as("n_docs"),
          col("clusters_exact"), col("clusters_simhash"),
          expr("cast(pij div 2 as bigint)").as("pairs_both"),
          expr("cast(pa div 2 as bigint)").as("pairs_exact"),
          expr("cast(pb div 2 as bigint)").as("pairs_simhash"),
          expr("cast((1000 * (pn + 2 * pij - pa - pb)) div pn as bigint)")
            .as("rand_milli"),
          expr("""cast(case when pn * (pa + pb) - 2 * pa * pb <> 0 then
               (2000 * (pij * pn - pa * pb))
                 div (pn * (pa + pb) - 2 * pa * pb) end as bigint)""")
            .as("ari_milli"))
    },
    Some("""WITH RECURSIVE t AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            shx AS (SELECT doc_id,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               for i in range(1, len(w) - 1)]) AS tok
              FROM t),
            xpairs AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id
              FROM shx a JOIN shx b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                / (len(a.tok) + len(b.tok)
                   - len(list_intersect(a.tok, b.tok))) >= 0.8),
            edges AS (
              SELECT a_id AS u, b_id AS v FROM xpairs
              UNION SELECT b_id, a_id FROM xpairs),
            reach(node, lbl) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node),
            la AS (
              SELECT d.doc_id,
                COALESCE((SELECT MIN(lbl) FROM reach WHERE node = d.doc_id),
                  d.doc_id) AS ka
              FROM documents d),
            tf AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM (
                     SELECT doc_id, unnest(list_transform(range(len(w) - 1),
                       i -> w[i + 1] || ' ' || w[i + 2])) AS g
                     FROM t WHERE len(w) >= 2) GROUP BY 1, 2),
            hh AS (SELECT doc_id, c,
                     CAST(CAST(CONCAT('0x', substr(md5('s:' || g), 17, 8))
                       AS UBIGINT) AS BIGINT) AS hi,
                     CAST(CAST(CONCAT('0x', substr(md5('s:' || g), 25, 8))
                       AS UBIGINT) AS BIGINT) AS lo
                   FROM tf),
            bv AS (SELECT doc_id, b,
                     SUM(CASE WHEN (((CASE WHEN b < 32 THEN (lo >> CAST(b AS INTEGER))
                                     ELSE (hi >> CAST(b - 32 AS INTEGER)) END) & 1) = 1)
                         THEN c ELSE -c END) AS s
                   FROM hh CROSS JOIN (SELECT unnest(range(64)) AS b)
                   GROUP BY 1, 2),
            sig AS (SELECT doc_id,
                      COALESCE(list(b ORDER BY b) FILTER (WHERE s > 0),
                        CAST([] AS BIGINT[])) AS bits
                    FROM bv GROUP BY 1),
            band AS (SELECT doc_id, unnest(list_transform(range(4),
                       c -> CAST(c AS VARCHAR) || ':' || array_to_string(
                         list_filter(bits, b -> b // 16 = c), ','))) AS ckey
                     FROM sig),
            bmin AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY ckey) AS bucket_min
                     FROM band),
            scand AS (SELECT doc_id, MIN(bucket_min) AS cand FROM bmin
                      GROUP BY doc_id HAVING MIN(bucket_min) < doc_id),
            ver AS (SELECT c.doc_id, c.cand,
                      CAST(2 * len(list_distinct(s1.bits || s2.bits))
                        - len(s1.bits) - len(s2.bits) AS BIGINT) AS hamming
                    FROM scand c
                    JOIN sig s1 ON s1.doc_id = c.doc_id
                    JOIN sig s2 ON s2.doc_id = c.cand),
            lb AS (
              SELECT d.doc_id, COALESCE(v.cand, d.doc_id) AS kb
              FROM documents d
              LEFT JOIN (SELECT * FROM ver WHERE hamming <= 8) v
                USING (doc_id)),
            ct AS (
              SELECT la.ka, lb.kb, CAST(COUNT(*) AS BIGINT) AS nij
              FROM la JOIN lb USING (doc_id) GROUP BY 1, 2),
            en AS (
              SELECT *, SUM(nij) OVER (PARTITION BY ka) AS ai,
                SUM(nij) OVER (PARTITION BY kb) AS bj
              FROM ct),
            agg AS (
              SELECT CAST(SUM(nij) AS HUGEINT) AS n,
                CAST(COUNT(DISTINCT ka) AS BIGINT) AS clusters_exact,
                CAST(COUNT(DISTINCT kb) AS BIGINT) AS clusters_simhash,
                CAST(SUM(CAST(nij AS HUGEINT) * (nij - 1)) AS HUGEINT)
                  AS pij,
                CAST(SUM(CAST(nij AS HUGEINT) * (ai - 1)) AS HUGEINT)
                  AS pa,
                CAST(SUM(CAST(nij AS HUGEINT) * (bj - 1)) AS HUGEINT)
                  AS pb
              FROM en),
            fin AS (SELECT *, n * (n - 1) AS pn FROM agg)
            SELECT CAST(n AS BIGINT) AS n_docs, clusters_exact,
              clusters_simhash,
              CAST(pij // 2 AS BIGINT) AS pairs_both,
              CAST(pa // 2 AS BIGINT) AS pairs_exact,
              CAST(pb // 2 AS BIGINT) AS pairs_simhash,
              CAST((1000 * (pn + 2 * pij - pa - pb)) // pn AS BIGINT)
                AS rand_milli,
              CAST(CASE WHEN pn * (pa + pb) - 2 * pa * pb <> 0 THEN
                  -- trunc-toward-zero to match Spark's `div` on a
                  -- possibly-negative numerator (DuckDB // floors)
                  CASE WHEN pij * pn - pa * pb >= 0 THEN
                    (2000 * (pij * pn - pa * pb))
                      // (pn * (pa + pb) - 2 * pa * pb)
                  ELSE -((2000 * (pa * pb - pij * pn))
                      // (pn * (pa + pb) - 2 * pa * pb)) END
                END AS BIGINT) AS ari_milli
            FROM fin"""))

  // ------------------------------------------------------------------ x366
  // Precision/recall of the MinHash banding tier — x340 measures the
  // S-curve (catch probability vs similarity, on a planted mid-band
  // corpus); x348 gives precision/recall for the SIMHASH tier. This row
  // completes the square: for each 16-hash slicing (b=8/r=2, b=4/r=4,
  // b=2/r=8) on the PLAIN corpus, what fraction of surfaced candidate
  // pairs are true near-dups (precision — the verify-stage workload the
  // slicing buys), and what fraction of true pairs surface at all
  // (recall, charged against the FULL lossless truth tier at τ = 1/2,
  // so pairs the hot-bucket cap drops count as misses). Signature,
  // banding and cap are x332/x340's md5 pipeline verbatim; exact
  // Jaccard per candidate is the same integer-millis arithmetic as the
  // truth tier, so tp ≡ |candidates ∩ truth| by construction.
  //
  // Scale shape: one shingle scan → 16-column min signature; candidate
  // pairs are capped LSH bucket pairs (the production bound); exact J
  // is computed ONLY on candidates (bounded), and the truth side is
  // the audited prefix-filter join — nothing all-pairs.
  private val x366 = GQuery(
    "x366_minhash_pr_eval", "ext-dedup-fuzzy minhash banding eval",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("bkey"))
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
        .transform(Par.fanOutScan(_, "doc_id")) // md5 sig + truth kernels
      val sh = wordTrigrams(corpus)
      val sig16 = minhashHexSigs(sh, 16)
      val capped = sig16
        .select(col("doc_id"), explode(expr("array(2, 4, 8)")).as("rr"), col("sig"))
        .select(col("doc_id"), col("rr"), explode(expr(
          """transform(sequence(0, 16 div rr - 1),
               b -> concat(rr, ':', b, ':', concat_ws(',', slice(sig, b * rr + 1, rr))))"""))
          .as("bkey"))
        .withColumn("bsz", count(lit(1)).over(w))
        .where(col("bsz") <= 32)
        .localCheckpoint(true) // both sides of the bucket pair join
      val cand = capped.as("a")
        .join(capped.as("b"),
          col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.rr").as("rr"), col("a.doc_id").as("a_id"),
          col("b.doc_id").as("b_id"))
        .distinct()
        // pair-sized checkpoint (round 15): cand feeds BOTH the distinct-
        // pair scoring and the per-slicing rollup — uncheckpointed, the
        // capped bucket self-join ran twice
        .localCheckpoint(true)
      val sets = shingleSets(corpus).localCheckpoint(true) // cand J + truth
      // exact J once per DISTINCT pair, not per (slicing, pair): the r=2
      // slicing's candidates largely contain the others', so scoring the
      // union once and joining back saves up to 3× of the set
      // intersections (measured ~25 % of the row's cost at sf0.1)
      val scored = cand.select(col("a_id"), col("b_id")).distinct()
        .transform(Par.fanOutJoin(_, col("a_id"), col("b_id")))
        .join(sets.select(col("doc_id").as("a_id"), col("sh").as("sa"),
          col("n").as("n_a")), "a_id")
        .join(sets.select(col("doc_id").as("b_id"), col("sh").as("sb"),
          col("n").as("n_b")), "b_id")
        .withColumn("inter",
          HashFunctions.intersectLongs(col("sa"), col("sb")))
        .select(col("a_id"), col("b_id"),
          expr("(1000 * inter) div (n_a + n_b - inter)").as("j_milli"))
      val perSlicing = cand
        .join(scored, Seq("a_id", "b_id"))
        .groupBy(col("rr"))
        .agg(count(lit(1)).as("n_cand"),
          sum(when(col("j_milli") >= 500, 1L).otherwise(0L)).as("tp"))
      val truthN = truthPairsAtHalf(sets).agg(count(lit(1)).as("n_true"))
      perSlicing.crossJoin(broadcast(truthN))
        .select(col("rr").cast("long").as("rows_per_band"),
          expr("CAST(16 div rr AS BIGINT)").as("n_bands"),
          col("n_true"), col("n_cand"), col("tp"),
          expr("""cast(case when n_cand > 0
               then (1000 * tp) div n_cand end as bigint)""")
            .as("precision_milli"),
          expr("""cast(case when n_true > 0
               then (1000 * tp) div n_true end as bigint)""")
            .as("recall_milli"))
        .orderBy("rows_per_band")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            shs AS (SELECT doc_id, unnest(list_distinct(list_transform(
                      range(len(w) - 2),
                      i -> w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3]))) AS sh
                    FROM w WHERE len(w) >= 3),
            hx AS (SELECT doc_id, k,
                     MIN(CASE WHEN k % 2 = 0
                         THEN substr(md5(CAST(k // 2 AS VARCHAR) || ':' || sh), 17, 16)
                         ELSE substr(md5(CAST(k // 2 AS VARCHAR) || ':' || sh), 1, 16)
                         END) AS mh
                   FROM shs CROSS JOIN (SELECT unnest(range(16)) AS k)
                   GROUP BY 1, 2),
            sig AS (SELECT doc_id, list(mh ORDER BY k) AS sig
                    FROM hx GROUP BY 1),
            band AS (SELECT doc_id, rr, CAST(rr AS VARCHAR) || ':' ||
                       CAST(b AS VARCHAR) || ':' ||
                       array_to_string(sig[b * rr + 1 : b * rr + rr], ',') AS bkey
                     FROM sig
                     CROSS JOIN (SELECT unnest([2, 4, 8]) AS rr)
                     CROSS JOIN (SELECT unnest(range(8)) AS b)
                     WHERE b < 16 // rr),
            bandc AS (SELECT *, COUNT(*) OVER (PARTITION BY bkey) AS bsz
                      FROM band),
            cand AS (SELECT DISTINCT a.rr, a.doc_id AS a_id, b.doc_id AS b_id
                     FROM bandc a JOIN bandc b
                       ON a.bkey = b.bkey AND a.doc_id < b.doc_id
                     WHERE a.bsz <= 32),
            tok AS (SELECT doc_id,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               for i in range(1, len(w) - 1)]) AS tok
              FROM w),
            cj AS (SELECT c.rr,
                     (1000 * CAST(len(list_intersect(a.tok, b.tok)) AS BIGINT))
                       // (len(a.tok) + len(b.tok)
                          - len(list_intersect(a.tok, b.tok))) AS j_milli
                   FROM cand c
                   JOIN tok a ON a.doc_id = c.a_id
                   JOIN tok b ON b.doc_id = c.b_id),
            ps AS (SELECT rr, CAST(COUNT(*) AS BIGINT) AS n_cand,
                     CAST(SUM(CASE WHEN j_milli >= 500 THEN 1 ELSE 0 END)
                       AS BIGINT) AS tp
                   FROM cj GROUP BY 1),
            tn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM (
                     SELECT 1 FROM tok a JOIN tok b ON a.doc_id < b.doc_id
                     WHERE len(list_intersect(a.tok, b.tok)) > 0
                       AND (1000 * CAST(len(list_intersect(a.tok, b.tok))
                         AS BIGINT))
                         // (len(a.tok) + len(b.tok)
                            - len(list_intersect(a.tok, b.tok))) >= 500))
            SELECT CAST(rr AS BIGINT) AS rows_per_band,
              CAST(16 // rr AS BIGINT) AS n_bands,
              n_true, n_cand, tp,
              CAST(CASE WHEN n_cand > 0 THEN (1000 * tp) // n_cand END
                AS BIGINT) AS precision_milli,
              CAST(CASE WHEN n_true > 0 THEN (1000 * tp) // n_true END
                AS BIGINT) AS recall_milli
            FROM ps CROSS JOIN tn ORDER BY rows_per_band"""))

  // ------------------------------------------------------------------- x392
  // Dedup mixture-shift audit — what x01's exact dedup does to the
  // TRAINING MIXTURE: per (lang, source) cell, row counts and exact
  // milli shares before and after keeper selection, and the share
  // shift. Duplication is never uniform across sources (template-heavy
  // ones lose more), so dedup silently reweights the corpus away from
  // the x29/x320 mixture plan — this is the audit that catches it,
  // read BETWEEN the dedup stage and the mixture sampler. Same keeper
  // rule as x01 (min doc_id per md5(text)), so this row and the dedup
  // stage can never disagree about who survives.
  //
  // Scale shape: one md5 projection, a window-min keeper flag on the
  // hash shuffle (x01's exchange), one (lang, source) rollup over the
  // dimension-domain grid; totals ride a 1-row broadcast.
  private val x392 = GQuery(
    "x392_dedup_mixture_shift", "ext-dedup-exact mixture audit",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("h"))
      val g = docs(s, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          md5(col("text")).as("h"))
        .withColumn("keeper", col("doc_id") === min(col("doc_id")).over(w))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_before"),
          sum(when(col("keeper"), 1L).otherwise(0L)).as("n_after"))
      val tot = g.agg(sum(col("n_before")).as("tb"),
        sum(col("n_after")).as("ta"))
      g.crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("n_before"), col("n_after"),
          expr("(1000 * n_before) div tb").as("share_before_milli"),
          expr("(1000 * n_after) div ta").as("share_after_milli"),
          expr("(1000 * n_after) div ta - (1000 * n_before) div tb")
            .as("shift_milli"))
        .orderBy("lang", "source")
    },
    Some("""WITH d AS (SELECT doc_id, lang, source, md5(text) AS h
                       FROM documents),
            keep AS (SELECT *,
                       doc_id = MIN(doc_id) OVER (PARTITION BY h) AS keeper
                     FROM d),
            g AS (SELECT lang, source,
                    CAST(COUNT(*) AS BIGINT) AS n_before,
                    CAST(SUM(CASE WHEN keeper THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_after
                  FROM keep GROUP BY 1, 2),
            t AS (SELECT SUM(n_before) AS tb, SUM(n_after) AS ta FROM g)
            SELECT lang, source, n_before, n_after,
              CAST((1000 * n_before) // (SELECT tb FROM t) AS BIGINT)
                AS share_before_milli,
              CAST((1000 * n_after) // (SELECT ta FROM t) AS BIGINT)
                AS share_after_milli,
              CAST((1000 * n_after) // (SELECT ta FROM t)
                - (1000 * n_before) // (SELECT tb FROM t) AS BIGINT)
                AS shift_milli
            FROM g ORDER BY lang, source"""))

  // ------------------------------------------------------------------- x402
  // Prefix-filter candidate-budget curve — the scale-tuning readout the
  // x225 pipeline hard-codes at one threshold: per τ ∈ {0.7, 0.8, 0.9},
  // how many candidate pairs does the prefix filter generate, how many
  // verify true (J ≥ τ), the verify precision, and the candidate share
  // of all N(N−1)/2 pairs — the number that decides whether a corpus
  // can afford a LOWER dedup threshold (the budget grows as τ drops).
  // Runs the SAME rarest-first prefix discipline (rank by ascending
  // (df, shingle), keep n − ⌈τ·n⌉ + 1, length-ratio filter) over
  // STRING 3-gram shingles rather than the pipeline's shingle hashes:
  // the hash is engine-local, so a hash-order prefix is not
  // cross-engine reproducible, while the string order is — making this
  // the hash pipeline's oracled BUDGET twin (the df-rank prefix depends
  // only on the total order's CONSISTENCY for the lossless guarantee,
  // so the string-ordered candidate counts are a faithful budget model
  // for the hash-ordered production path). Jaccard verifies by integer
  // cross-multiplication (den·|∩| ≥ num·(nₐ+n_b−|∩|)) — no floats
  // anywhere. DECIMAL(38,0)/HUGEINT headroom on the ppm products
  // (candidates and N² are both huge at corpus scale).
  //
  // Scale shape: one shingle explode + df count (map-side combinable),
  // ONE rank window per doc (shared across the 3-row τ domain via an
  // exploded literal — no re-scan, no grid join), then the x225
  // posting-list equi-join per τ with the same df-ascending
  // shortest-postings budget; verification touches candidates only.
  private val x402 = GQuery(
    "x402_prefix_budget_curve",
    "ext-dedup-fuzzy prefix-filter candidate-budget curve",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
      val sh = Par.fanOutScan(docs(s, dir), "doc_id") // shingle kernel fan-out
        .withColumn("w", split(col("text"), " "))
        .withColumn("tok", array_sort(array_distinct(expr(
          """case when size(w) >= 3
               then transform(sequence(0, size(w) - 3),
                 i -> concat(element_at(w, i + 1), ' ',
                             element_at(w, i + 2), ' ',
                             element_at(w, i + 3)))
               else array() end"""))))
        .withColumn("n", size(col("tok")).cast("long"))
        .select(col("doc_id"), col("tok"), col("n"))
        .localCheckpoint(true) // shared by postings + both verify sides
      val post = sh.select(col("doc_id"), col("n"),
        explode(col("tok")).as("s"))
      val dfv = post.groupBy(col("s")).agg(count(lit(1)).as("df"))
      val rk = post.join(dfv, Seq("s"))
        .withColumn("rk", row_number().over(w).cast("long"))
      val pref = rk.withColumn("g", explode(expr(
          """array(named_struct('t_milli', 700L, 'num', 7L, 'den', 10L),
                   named_struct('t_milli', 800L, 'num', 4L, 'den', 5L),
                   named_struct('t_milli', 900L, 'num', 9L, 'den', 10L))""")))
        .select(col("g.t_milli").as("t_milli"), col("g.num").as("num"),
          col("g.den").as("den"), col("doc_id"), col("n"), col("s"),
          col("rk"))
        .where(col("rk") <= col("n") -
          expr("(num * n + den - 1) div den") + 1)
      val cand = pref.as("a").join(pref.as("b"),
          col("a.t_milli") === col("b.t_milli") &&
            col("a.s") === col("b.s") &&
            col("a.doc_id") < col("b.doc_id"))
        .where(least(col("a.n"), col("b.n")) * col("a.den") >=
          greatest(col("a.n"), col("b.n")) * col("a.num"))
        .select(col("a.t_milli").as("t_milli"), col("a.num").as("num"),
          col("a.den").as("den"), col("a.doc_id").as("a_id"),
          col("b.doc_id").as("b_id"))
        .distinct()
      val tot = sh.agg(count(lit(1)).as("nd"))
      cand
        .join(sh.select(col("doc_id").as("a_id"), col("tok").as("sa"),
          col("n").as("n_a")), "a_id")
        .join(sh.select(col("doc_id").as("b_id"), col("tok").as("sb"),
          col("n").as("n_b")), "b_id")
        .withColumn("inter", size(array_intersect(col("sa"), col("sb")))
          .cast("long"))
        .groupBy(col("t_milli"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("den") * col("inter") >=
            col("num") * (col("n_a") + col("n_b") - col("inter")), 1L)
            .otherwise(0L)).as("n_true"))
        .crossJoin(broadcast(tot))
        .select(col("t_milli"), col("n_candidates"), col("n_true"),
          expr("""cast(case when n_candidates > 0
                then (1000 * n_true) div n_candidates end as bigint)""")
            .as("precision_milli"),
          expr("""cast((1000000 * cast(n_candidates as decimal(38,0)))
                div ((cast(nd as decimal(38,0)) * (nd - 1)) div 2)
                as bigint)""").as("cand_ppm"))
        .orderBy("t_milli")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents),
            sh AS (SELECT doc_id,
                list_sort(list_distinct(
                  [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                   for i in range(1, len(w) - 1)])) AS tok,
                CAST(len(list_distinct(
                  [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                   for i in range(1, len(w) - 1)])) AS BIGINT) AS n
              FROM t),
            post AS (SELECT doc_id, n, unnest(tok) AS s FROM sh),
            dfv AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df
                    FROM post GROUP BY 1),
            rk AS (SELECT p.doc_id, p.n, p.s,
                     CAST(ROW_NUMBER() OVER (PARTITION BY p.doc_id
                       ORDER BY d.df, p.s) AS BIGINT) AS rk
                   FROM post p JOIN dfv d USING (s)),
            grid AS (SELECT CAST(unnest([700, 800, 900]) AS BIGINT)
                       AS t_milli,
                     CAST(unnest([7, 4, 9]) AS BIGINT) AS num,
                     CAST(unnest([10, 5, 10]) AS BIGINT) AS den),
            pref AS (SELECT g.t_milli, g.num, g.den, r.doc_id, r.n, r.s
                     FROM rk r, grid g
                     WHERE r.rk <=
                       r.n - ((g.num * r.n + g.den - 1) // g.den) + 1),
            cand AS (SELECT DISTINCT a.t_milli, a.num, a.den,
                       a.doc_id AS a_id, b.doc_id AS b_id
                     FROM pref a JOIN pref b
                       ON a.t_milli = b.t_milli AND a.s = b.s
                          AND a.doc_id < b.doc_id
                     WHERE least(a.n, b.n) * a.den
                       >= greatest(a.n, b.n) * a.num),
            ver AS (SELECT c.t_milli,
                      CAST(COUNT(*) AS BIGINT) AS n_candidates,
                      CAST(SUM(CASE WHEN
                        c.den * len(list_intersect(x.tok, y.tok))
                        >= c.num * (x.n + y.n
                          - len(list_intersect(x.tok, y.tok)))
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_true
                    FROM cand c
                    JOIN sh x ON x.doc_id = c.a_id
                    JOIN sh y ON y.doc_id = c.b_id
                    GROUP BY 1),
            tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM sh)
            SELECT t_milli, n_candidates, n_true,
              CAST(CASE WHEN n_candidates > 0
                THEN (1000 * n_true) // n_candidates END AS BIGINT)
                AS precision_milli,
              CAST((1000000 * CAST(n_candidates AS HUGEINT))
                // ((CAST((SELECT nd FROM tot) AS HUGEINT)
                    * ((SELECT nd FROM tot) - 1)) // 2) AS BIGINT)
                AS cand_ppm
            FROM ver ORDER BY t_milli"""))

  /** x405's substrate — [[writeLshIndex]] with the ONE non-reproducible
    * ingredient swapped (the x332 discipline applied to the STORED
    * index): per-doc md5-hex minhash signatures at x66's exact geometry
    * (K = 32) and the 8-band string bucket table. Bands written last so
    * a `_SUCCESS` on `bands` implies the whole index landed — the same
    * commit order as the seeded writer.
    */
  def writeMd5LshIndex(standing: DataFrame, outDir: String): Unit = {
    val sigs = minhashHexSigs(hexShingles(standing), 32).localCheckpoint(true)
    sigs.write.mode("overwrite").parquet(s"$outDir/sigs")
    hexBandKeys(sigs, 8).write.mode("overwrite").parquet(s"$outDir/bands")
  }

  /** Verdict a batch against the stored md5-hex LSH index — the
    * [[probeLshIndex]] pipeline (standing sigs + bands READ from the
    * artifact, batch-only signature computation, band-join candidates,
    * signature-agreement verify, per-doc min dup_of) with every hash
    * cross-engine exact. The output anchors on the BATCH TABLE's doc
    * ids (the r13 x397 lesson): a doc too short to shingle still gets
    * its (doc_id, null) row, exactly as the oracle's left join.
    */
  def probeMd5LshIndex(batch: DataFrame, indexDir: String): DataFrame = {
    val s = batch.sparkSession
    // array<string> elements round-trip parquet as nullable; restore the
    // non-null element contract the writer guarantees (probeLshIndex's
    // array_compact note)
    val standSigs = s.read.parquet(s"$indexDir/sigs")
      .select(col("doc_id").as("old_id"), array_compact(col("sig")).as("csig"))
    val standBands = s.read.parquet(s"$indexDir/bands")
      .select(col("bkey"), col("doc_id").as("old_id"))
    val batchSigs = minhashHexSigs(hexShingles(batch), 32)
      .localCheckpoint(true) // reused: banding + verify side
    val cand = hexBandKeys(batchSigs, 8)
      .join(standBands, "bkey")
      .select(col("doc_id"), col("old_id")).distinct()
    val verified = cand
      .join(batchSigs, Seq("doc_id"))
      .join(standSigs, Seq("old_id"))
      .where(expr("size(filter(sequence(0, 31), i -> sig[i] = csig[i])) >= 28"))
      .groupBy(col("doc_id")).agg(min(col("old_id")).as("dup_of"))
    batch.select(col("doc_id"))
      .join(verified, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------- x405
  // Stored-incremental-LSH exact twin (r13 VERDICT task 5, the x396/x404
  // pattern applied to x66): the ENTIRE stored-index dedup cycle —
  // standing signatures and band buckets persisted at ingest and READ
  // back (including the parquet array-element-nullability round-trip),
  // batch-only signature computation, band-join candidate generation,
  // >= 28/32 signature-agreement verify, per-doc min-dup_of verdict —
  // hash-oracled end to end, with x66's exact banding geometry (K = 32,
  // 8 bands of 4, ceil(0.85*32) = 28) and the seeded xxhash64 family
  // swapped for the x332 md5-hex family DuckDB mirrors bit-for-bit.
  // What x66 adds on top is only the engine-native hash, whose verdict
  // identity with the inline pipeline DedupSpec already pins.
  //
  // Scale shape is x66's: the standing corpus's text is never touched —
  // serve-time cost is the BATCH's signatures (K/2 md5 per shingle, one
  // map-side-combinable min-aggregate), a (bkey, doc_id) band join
  // against the stored buckets, and a doc-pair verify join.
  private val x405 = GQuery(
    "x405_incremental_lsh_exact",
    "ext-dedup-fuzzy stored-index exact twin",
    (s, dir) => {
      val d = docs(s, dir)
      val store = graft.StoredArtifacts.dir(dir, "md5_lsh_index_v1")
      if (!graft.StoredArtifacts.ready(s"$store/bands"))
        writeMd5LshIndex(d.where(col("source") =!= "src0"), store)
      probeMd5LshIndex(d.where(col("source") === "src0"), store)
    },
    Some("""WITH wd AS (SELECT doc_id, string_split(text, ' ') AS w, source
                        FROM documents),
            sh AS (SELECT doc_id, source, unnest(list_distinct(list_transform(
                     range(len(w) - 2),
                     i -> w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3]))) AS sh
                   FROM wd WHERE len(w) >= 3),
            hx AS (SELECT doc_id, source, k,
                     MIN(CASE WHEN k % 2 = 0
                         THEN substr(md5(CAST(k // 2 AS VARCHAR) || ':' || sh), 17, 16)
                         ELSE substr(md5(CAST(k // 2 AS VARCHAR) || ':' || sh), 1, 16)
                         END) AS mh
                   FROM sh CROSS JOIN (SELECT unnest(range(32)) AS k)
                   GROUP BY 1, 2, 3),
            sig AS (SELECT doc_id, source, list(mh ORDER BY k) AS sig
                    FROM hx GROUP BY 1, 2),
            band AS (SELECT doc_id, source, unnest(list_transform(range(8),
                       b -> CAST(b AS VARCHAR) || ':' ||
                            array_to_string(sig[b * 4 + 1 : b * 4 + 4], ','))) AS bkey
                     FROM sig),
            cand AS (SELECT DISTINCT nb.doc_id, sb.doc_id AS old_id
                     FROM (SELECT doc_id, bkey FROM band WHERE source = 'src0') nb
                     JOIN (SELECT doc_id, bkey FROM band WHERE source <> 'src0') sb
                       USING (bkey)),
            ver AS (SELECT c.doc_id, MIN(c.old_id) AS dup_of
                    FROM cand c
                    JOIN sig s1 ON s1.doc_id = c.doc_id
                    JOIN sig s2 ON s2.doc_id = c.old_id
                    WHERE len(list_filter(range(32),
                      i -> s1.sig[i + 1] = s2.sig[i + 1])) >= 28
                    GROUP BY 1)
            SELECT d.doc_id, v.dup_of
            FROM (SELECT doc_id FROM documents WHERE source = 'src0') d
            LEFT JOIN ver v USING (doc_id)
            ORDER BY d.doc_id"""))

  val queries: Seq[GQuery] =
    Seq(x01, x02, x03, x04, x05, x19, x22, x32, x52, x66, x102, x225, x227,
      x236, x237, x241, x280, x294, x304, x309, x313, x316, x327, x328,
      x332, x333, x340, x348, x356, x366, x392, x402, x405)
}
