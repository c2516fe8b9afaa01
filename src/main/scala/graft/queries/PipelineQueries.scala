package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{CountMin, Dedup, Multimodal, NaiveBayes, Rake, RollingHash64, Sampling, Similarity, TextAnalysis}
import Tables._

/** LLM-training-data pipeline operators (driver mandate): dedup,
  * similarity search, text analysis, multimodal columns — over the
  * `documents` and `embeddings` tables.
  *
  * Oracle strategy: everything whose arithmetic is reproducible
  * cross-engine gets DuckDB SQL (md5-derived MinHash AND SimHash, set
  * Jaccard, double-fold cosine rounded to 6dp); ops that are inherently
  * sketch/approximate (HLL approx_distinct, sign-LSH ANN) or tied to a
  * custom codegen expression (rolling hash) are rows-only here and
  * verified in ScalaTest against independent reimplementations /
  * brute-force baselines.
  */
object PipelineQueries {

  // MinHash parameters: 32 hashes = 8 bands × 4 rows → candidate
  // probability ≈ 1-(1-s⁴)⁸: >0.99 at s=0.9, ~0.004 at s=0.15 —
  // matches the corpus structure (planted dups ≥0.9, noise <0.2).
  private val NumHashes = 32
  private val Bands = 8
  private val RowsPerBand = NumHashes / Bands
  private val JaccardThreshold = 0.6
  // Bloom gate sizing: 2^18 bits comfortably holds the test corpora at
  // k=7 (m is a cardinality-budget constant, not data-derived; a real
  // crawl sizes m ~ 1.44 * k * n_expected bits).
  private val BloomK = 7
  private val BloomBits = 1 << 18
  private val CosineThreshold = 0.45
  // SimHash radius; banding uses SimhashRadius+1 chunks → complete.
  private val SimhashRadius = 8
  // BPE training size: top-100 words keeps the oracle CTE chain and
  // the per-round symbol table small at test SF while exercising every
  // code path (ties, equal-symbol runs, multi-char merges); 10 merges
  // is enough for learned symbols to stack 3+ characters deep.
  private val BpeTopWords = 100
  private val BpeMerges = 10
  // encode trains on a DELIBERATELY small vocabulary: the synthetic
  // corpus has only ~31 distinct words, so a top-12 model leaves the
  // majority out-of-vocabulary — the gate then actually exercises the
  // OOV degradation path (partial merges over unseen words).
  private val BpeEncodeTrainWords = 12
  // Sign-LSH bands for embedding pair mining: 24 bands x 6 planes.
  // At the (deliberately weak) 0.45 threshold this measures ~0.9
  // recall at sf0.1 with ~3x candidate pruning; at a production
  // near-dup threshold (cos >= 0.9, per-plane agreement p ≈ 0.86)
  // the same banding prunes to ~2% of pairs with recall > 0.999 —
  // the S-curve sharpens as the threshold rises.
  private val EmbedBands = 24
  private val EmbedRowsPerBand = 6

  /** The corpus is synthetic word soup with no natural PII, so the PII
    * query plants deterministic PII derived from doc_id (same
    * construction in the oracle), then detects and redacts it — the
    * operator under test is detect/redact, not the planting.
    */
  private def synthPii(id: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(text, lit(" contact user"), id.cast("string"),
      lit("@mail.example.com or "),
      (id % 900 + 100).cast("string"), lit("-"),
      ((id * 7) % 900 + 100).cast("string"), lit("-"),
      ((id * 13) % 9000 + 1000).cast("string"),
      lit(" ip 10."), (id % 256).cast("string"), lit(".0."),
      ((id * 3) % 256).cast("string"),
      lit(" ssn "), (id % 900 + 100).cast("string"), lit("-"),
      (id % 90 + 10).cast("string"), lit("-"),
      ((id * 11) % 9000 + 1000).cast("string"))

  /** Per-bigram LM scores under the add-one smoothed bigram model of
    * the reference split (doc_id%5==0) — the shared scoring chain of
    * `text_lm_score` and `pipeline_ccnet_buckets`. Returns one row per
    * scored bigram of every NON-reference doc: (doc_id, known, p)
    * where p = (c2+1)*1e8 DIV (c1+v) is the integer-scaled smoothed
    * probability (floor division of non-negative longs — identical in
    * Spark and DuckDB; no doubles anywhere: log() is not
    * correctly-rounded across libms, and even round(double, 8)
    * disagrees between engines near half-way boundaries — r07's one
    * red row). Scale shape: training is two partial-agg'd counts over
    * the reference; scoring is one lag window per doc (one doc_id
    * exchange) + two keyed joins against the vocab-bounded count
    * tables.
    */
  private def lmBigramScores(docs: DataFrame): DataFrame = {
    val toks = (df: DataFrame) => df.select(col("doc_id"),
      posexplode(regexp_extract_all(lower(col("text")),
        lit("[a-z]+"), lit(0))).as(Seq("pos", "w")))
    val ref = toks(docs.filter(col("doc_id") % 5 === 0))
    val uni = ref.groupBy(col("w").as("w1")).agg(count(lit(1)).as("c1"))
    val big = ref
      .withColumn("w2", lead(col("w"), 1).over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .filter(col("w2").isNotNull)
      .groupBy(col("w").as("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val bigR = big.select(col("w1").as("b1"), col("w2").as("b2"),
      col("c2"))
    toks(docs.filter(col("doc_id") % 5 =!= 0))
      .withColumn("w2", lead(col("w"), 1).over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .filter(col("w2").isNotNull)
      .join(uni, col("w") === col("w1"), "left").drop("w1")
      .join(bigR, col("w") === col("b1") && col("w2") === col("b2"),
        "left").drop("b1", "b2")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        col("c2").isNotNull.cast("long").as("known"),
        expr("(coalesce(c2, CAST(0 AS BIGINT)) + 1) * 100000000 DIV " +
          "(coalesce(c1, CAST(0 AS BIGINT)) + v)").as("p"))
  }

  /** BM25-scored docs (doc_id, score) for the fixed 3-term query —
    * the shared chain of `search_bm25` and `search_rrf`'s lexical
    * leg. k1=1.2, b=0.75; per-term tf's PIVOTED to columns by
    * conditional aggregation so the score is a fixed-order 3-term sum
    * (bit-deterministic cross-engine — a per-(doc,term)-row SUM would
    * add in shuffle order). Corpus stats (N, Σdl, df per term) are
    * one 1-row aggregate broadcast back; ln() is IEEE-identical on
    * both engines (proven by text_tfidf). `lit(2.2)`, not (k1 + 1):
    * the Scala sum 1.2 + 1 is one ulp BELOW the double nearest to
    * 2.2, while the oracle's literal 2.2 converts to that nearest
    * double — raw scores would order-diverge at the top-k boundary.
    */
  private def bm25Scored(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("spark", "join", "window")
    val (k1, b) = (1.2, 0.75)
    val tok = documents(s, d)
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("t"))
    val aggs = count(lit(1)).as("dl") +:
      terms.map(t => sum(when(col("t") === t, 1L).otherwise(0L))
        .as(s"tf_$t"))
    // two consumers (stats + scoring): checkpoint the skinny
    // per-doc table so the corpus is tokenized once, not twice
    val perDoc = tok.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .localCheckpoint(false)
    val statAggs = count(lit(1)).as("n") +: sum(col("dl")).as("sumdl") +:
      terms.map(t => sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L))
        .as(s"df_$t"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    val avgdl = col("sumdl").cast("double") / col("n")
    def part(t: String) = {
      val tf = col(s"tf_$t").cast("double")
      val idf = log(lit(1.0) +
        (col("n") - col(s"df_$t") + lit(0.5)) / (col(s"df_$t") + lit(0.5)))
      idf * tf * lit(2.2) /
        (tf + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl))
    }
    perDoc.crossJoin(broadcast(stats))
      .filter(terms.map(t => col(s"tf_$t")).reduce(_ + _) > 0)
      .withColumn("score", terms.map(part).reduce(_ + _))
      .select(col("doc_id"), col("score"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- dedup ---
    // Group key is a 128-bit fingerprint built from two independent
    // codegen'd xxhash64 values (plain, and seeded with a constant
    // prefix) — still far cheaper per row than md5, but immune to the
    // 64-bit birthday bound (a single xxhash64 key expects collisions
    // — silently merged groups — once the corpus reaches billions of
    // docs). Keys are engine-internal (not in the output); the oracle
    // groups by md5 of the same normalization, which induces the
    // identical partition of rows. Cross-engine-visible hex
    // fingerprints stay on `text_fingerprint` (md5).
    "dedup_exact" -> ((s, d) => {
      val nt = TextAnalysis.normalized(col("text"))
      documents(s, d)
        .groupBy(xxhash64(nt).as("fp_a"), xxhash64(lit(42L), nt).as("fp_b"))
        .agg(min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("n_copies"))
        .select("doc_id", "n_copies")
    }),

    "dedup_key" -> ((s, d) =>
      documents(s, d).groupBy("lang", "source")
        .agg(min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("n_copies"))),

    // URL canonicalization + dedup — the step every crawl pipeline
    // runs before content dedup: the same page arrives as
    // HTTP://HOST:80/p, host/p?utm_…, host/p/#frag, and host/p.
    // Messy URLs are planted deterministically from doc_id (pairs
    // share a page), then canonicalized GENERICALLY — fragment strip,
    // PARAM-LEVEL query canonicalization (tracking params dropped
    // anywhere they appear, survivors sorted), scheme+host lowercased,
    // default port dropped, trailing slash trimmed. The fixture
    // covers a tracking-only query, a MID-query tracking param, and
    // a param-ORDER variant — the crawl cases a leading-utm_ regex
    // strip under-dedups. One map-side projection + one hash-groupBy;
    // no pair mining.
    "dedup_url" -> ((s, d) => {
      val p = (col("doc_id") / 2).cast("long")
      val base = concat(lit("http://www.site"), (p % 50).cast("string"),
        lit(".com/docs/"), p.cast("string"))
      documents(s, d).select(col("doc_id"),
          // pair (4k, 4k+1): scrambled order + trailing gclid vs
          // mid-query utm — both must canon to ...?a=1&b=2
          when(col("doc_id") % 4 === 0,
            concat(lit("HTTP://WWW.SITE"), (p % 50).cast("string"),
              lit(".COM:80/docs/"), p.cast("string"),
              lit("?b=2&a=1&gclid=abc")))
          .when(col("doc_id") % 4 === 1,
            concat(base, lit("?a=1&utm_campaign=x&b=2")))
          // pair (4k+2, 4k+3): tracking-only query + slash + fragment
          // vs the plain page — both must canon to the bare base
          .when(col("doc_id") % 4 === 2,
            concat(base, lit("/?utm_source=feed#section")))
          .otherwise(base)
          .as("url"))
        .withColumn("canon", Dedup.urlCanon(col("url")))
        .groupBy("canon")
        .agg(min(col("doc_id")).as("keep_doc"),
          count(lit(1)).as("n_variants"))
    }),

    // Same 128-bit two-seed design as dedup_exact: the canonical
    // token-set string is computed map-side, hashed, and DISCARDED —
    // grouping by the string itself would ship kilobyte keys through
    // the shuffle (the oracle groups by the string, which induces the
    // identical row partition).
    "dedup_tokenset" -> ((s, d) => {
      val key = concat_ws(" ",
        array_sort(array_distinct(Dedup.tokens(col("text")))))
      documents(s, d)
        .groupBy(xxhash64(key).as("fp_a"),
          xxhash64(lit(42L), key).as("fp_b"))
        .agg(min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("n_copies"))
        .select("doc_id", "n_copies")
    }),

    "dedup_minhash" -> ((s, d) =>
      Dedup.minhashPairs(documents(s, d), "doc_id", "text",
        NumHashes, Bands, JaccardThreshold)),

    // Incremental ingest: every 20th doc plays the "incoming batch",
    // near-dup-mined AGAINST the full corpus without any
    // corpus-vs-corpus work. Batch docs match at least themselves
    // (jaccard 1.0) — planted truth that keeps the oracle row set
    // healthy at every SF.
    "dedup_incremental" -> ((s, d) =>
      Dedup.minhashJoinPairs(
        documents(s, d).filter(col("doc_id") % 20 === 0),
        documents(s, d), "doc_id", "text",
        NumHashes, Bands, JaccardThreshold)),

    // (shared preamble of the four persisted-minhash-index queries:
    // canonical per-SF-dir key + documents fingerprint — defined
    // below the query map, near the oracle helpers)

    // The PERSISTED near-dup lifecycle (ext/MinHashIndex): the first
    // invocation per corpus signs every document ONCE and commits the
    // skinny signature table (32 longs/doc); every later invocation —
    // including bench passes 2..n — loads and probes: the incoming
    // batch (every 20th doc) is signed, band-joined against the
    // at-rest signatures, and scored by MinHash AGREEMENT (the
    // unbiased Jaccard estimator; exact binary fractions at n=32, so
    // the oracle replay is hash-exact). No corpus text is read at
    // probe time — this is dedup_incremental's answer without
    // dedup_incremental's corpus re-shingle. A batch doc matches
    // itself at est 1.0 (the index covers the full corpus) — planted
    // truth at every SF.
    "dedup_minhash_index" -> ((s, d) => {
      val dir = minhashIndexFor(s, d)
      graft.ext.MinHashIndex.probe(
        documents(s, d).filter(col("doc_id") % 20 === 0),
        "doc_id", "text", dir, JaccardThreshold)
    }),

    // The INCREMENTAL leg: build the signature table over two thirds
    // of the corpus, APPEND the rest (the hash family is
    // content-deterministic, so appended signatures are bit-identical
    // to a full rebuild's — proven by sharing dedup_minhash_index's
    // oracle verbatim), then probe. The composed marker makes repeat
    // invocations serve-only.
    "dedup_minhash_index_append" -> ((s, d) => {
      val (dir, fp) = minhashIndexDir(s, d, "_append")
      val docs = documents(s, d)
      graft.ext.MinHashIndex.ensureBuiltWithAppend(
        docs.filter(col("doc_id") % 3 =!= 2),
        docs.filter(col("doc_id") % 3 === 2),
        "doc_id", "text", dir, NumHashes, Bands, fp)
      graft.ext.MinHashIndex.probe(
        docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", dir, JaccardThreshold)
    }),

    // Ingest-gate verdicts from the index: estimate-gated candidates
    // (gate opened to 0.5 so estimator variance doesn't drop
    // borderline true pairs) EXACT-verified against re-read text of
    // the candidate docs only, self-matches excluded, folded to one
    // row per incoming doc — LEFT join from the batch universe, so
    // docs with no near-dup (or too short to shingle) still report
    // near_dup=false. This is the per-document admit/reject signal an
    // ingest pipeline acts on.
    "dedup_minhash_index_flags" -> ((s, d) => minhashFlags(s, d)),

    // Char-5-gram flavor of the persisted index — dedup_ngram's
    // shingle unit (robust to word re-segmentation; the usual unit
    // for code/short-text dedup) at dedup_ngram's 64×8 geometry,
    // served from the same sign-once lifecycle: the marker records
    // grams=char5 and probe/append/ingest pick the unit up from it.
    // Estimate threshold 0.7 (45/64 is the first admitted step —
    // exact binary fractions, hash-exact replay).
    "dedup_ngram_index" -> ((s, d) => {
      val dir = minhashIndexFor(s, d, ngram = true)
      graft.ext.MinHashIndex.probe(
        documents(s, d).filter(col("doc_id") % 20 === 0),
        "doc_id", "text", dir, 0.7)
    }),

    // INDEX-SERVED corpus-wide pair mining (round 15): dedup_minhash
    // re-shingles and re-signs the whole corpus every run to mine the
    // same pairs; this leg band-self-joins the AT-REST signature
    // table (32 longs/doc — no corpus text in the candidate pass) and
    // exact-verifies candidates against re-read text of the CANDIDATE
    // docs only. No estimate gate (estThreshold=0), so the pair set
    // EQUALS the mining leg's by construction — the oracle is
    // dedup_minhash's verbatim.
    "dedup_minhash_index_pairs" -> ((s, d) => {
      val dir = minhashIndexFor(s, d)
      graft.ext.MinHashIndex.pairsVerified(documents(s, d), "doc_id",
        "text", dir, JaccardThreshold)
    }),

    // Char-5-gram flavor of index-served pair mining — answers
    // dedup_ngram (the battery's most expensive dedup leg: the cost
    // is the corpus-wide char-gram explode/distinct/sign) from the
    // committed 64×8 signatures; shares dedup_ngram's oracle.
    "dedup_ngram_index_pairs" -> ((s, d) => {
      val dir = minhashIndexFor(s, d, ngram = true)
      graft.ext.MinHashIndex.pairsVerified(documents(s, d), "doc_id",
        "text", dir, 0.7)
    }),

    // INDEX-SERVED dedup groups (round 15): the sign-once chain run
    // END TO END from the at-rest signatures — banded candidates off
    // the committed signature table, exact verify on candidate
    // re-reads only (no estimate gate, so the pair set EQUALS
    // dedup_groups' mining input by construction), min-label
    // connected components. Shares dedup_groups' oracle verbatim —
    // that sharing IS the equality check.
    // r18: servedScoped wrapping TRIED and REVERTED here — measured
    // 2.3 s adaptive vs 5.5 s scoped (same-window A/B): the CC labels
    // inside run their own eager actions either way, and the mining
    // joins lose AQE's runtime broadcasts under the static scoped plan
    "dedup_groups_index" -> ((s, d) => {
      val dir = minhashIndexFor(s, d)
      graft.operators.ConnectedComponents.labels(
          graft.ext.MinHashIndex.pairsVerified(documents(s, d),
            "doc_id", "text", dir, JaccardThreshold)
            .select(col("id_a"), col("id_b")))
        .select(col("id").as("doc_id"), col("label").as("group_id"))
    }),

    // INCREMENTAL group maintenance (round 15): groups as an AT-REST
    // artifact of the index. Build the index + groups over two thirds
    // of the corpus, APPEND the rest, then fold the batch into the
    // committed groups table incrementally — CC runs over the
    // SUPER-NODE graph (touched group labels + newly-paired ids,
    // bounded by the batch's reach), members of merged groups relabel
    // through a broadcast label map, and nothing corpus-wide ever
    // recomputes. The result EQUALS a full re-mine + CC by
    // construction — sharing dedup_groups' oracle verbatim IS the
    // equality check (the _append discipline, one level up).
    "dedup_groups_incremental" -> ((s, d) => {
      val (dir, fp) = minhashIndexDir(s, d, "_grpinc")
      val docs = documents(s, d)
      val base = docs.filter(col("doc_id") % 3 =!= 2)
      val extra = docs.filter(col("doc_id") % 3 === 2)
      val M = graft.ext.MinHashIndex
      if (!M.groupsFresh(s, dir, JaccardThreshold)) {
        M.build(base, "doc_id", "text", dir, NumHashes, Bands, fp)
        M.buildGroups(base, "doc_id", "text", dir, JaccardThreshold)
        M.append(extra, "doc_id", "text", dir, fp)
        M.appendGroups(extra, docs, "doc_id", "text", dir,
          JaccardThreshold)
      }
      M.readGroups(s, dir)
        .select(col("id").as("doc_id"), col("label").as("group_id"))
    }),

    // ...and the survivor pick SERVED FROM THE AT-REST GROUPS: the
    // mining and CC work is already committed (same lifecycle as
    // dedup_groups_incremental — shared dir, so in-battery this costs
    // one skinny groups read + the (doc_id, len) projection + one
    // bounded window). Produces the deduplicated corpus from an index
    // a maintenance loop keeps fresh under append. Shares
    // dedup_survivors' oracle verbatim.
    "dedup_survivors_incremental" -> ((s, d) => {
      val (dir, fp) = minhashIndexDir(s, d, "_grpinc")
      val docs = documents(s, d)
      val M = graft.ext.MinHashIndex
      if (!M.groupsFresh(s, dir, JaccardThreshold)) {
        val base = docs.filter(col("doc_id") % 3 =!= 2)
        val extra = docs.filter(col("doc_id") % 3 === 2)
        M.build(base, "doc_id", "text", dir, NumHashes, Bands, fp)
        M.buildGroups(base, "doc_id", "text", dir, JaccardThreshold)
        M.append(extra, "doc_id", "text", dir, fp)
        M.appendGroups(extra, docs, "doc_id", "text", dir,
          JaccardThreshold)
      }
      survivorPickFromGroups(docs, M.readGroups(s, dir))
    }),

    // ...and the survivor pick over the index-fed groups — the stage
    // that PRODUCES the deduplicated corpus, now with the only
    // corpus-text work being the candidate verify (plus the skinny
    // (doc_id, len) projection every survivor pick needs). Shares
    // dedup_survivors' oracle verbatim.
    // r18: servedScoped tried and REVERTED (same A/B as
    // dedup_groups_index: 3.1 s adaptive vs 5.0 s scoped)
    "dedup_survivors_index" -> ((s, d) => {
      val dir = minhashIndexFor(s, d)
      survivorPick(documents(s, d),
        graft.ext.MinHashIndex.pairsVerified(documents(s, d),
          "doc_id", "text", dir, JaccardThreshold))
    }),

    // Char-5-gram flavor of the per-doc ingest verdicts (round 15 —
    // the word3 leg is dedup_minhash_index_flags): estimate-gated at
    // 0.5 (64 hashes → σ≈0.06, so the gate clears borderline true
    // pairs), exact-verified on candidate re-reads only, folded LEFT
    // from the batch universe so no-match docs still report
    // near_dup=false.
    "dedup_ngram_index_flags" -> ((s, d) =>
      minhashFlags(s, d, ngram = true, threshold = 0.7)),

    // PERSISTED bloom gate (round 15): dedup_bloom re-folds the
    // bitmap from a corpus scan every run; this leg serves the SAME
    // verdicts (bit-identical — shared oracle) from the committed
    // bitmap + key table, with no corpus scan in the probe plan.
    "dedup_bloom_index" -> ((s, d) => {
      val (dir, tsKey) = bloomIndexFor(s, d)
      graft.ext.BloomIndex.gate(
        documents(s, d).filter(col("doc_id") % 20 === 0),
        "doc_id", tsKey, dir)
    }),

    // STATE-STORE exact-dup gate, batch face (round 17): the corpus
    // key set lives in keyed state (loaded once from the committed
    // Bloom index's key table via transformWithState initial state)
    // and each incoming doc costs ONE point lookup — no per-batch
    // corpus scan, the shape that survives a 100 TB corpus where the
    // join gates' static-side re-scan does not. selfMaintain admits
    // each first occurrence into the state, so the intra-batch twin
    // of an admitted doc is flagged too (deterministic: lower id
    // admits) — semantics the frozen static side cannot express; the
    // oracle replays both memberships (corpus keys + the min-id
    // window over the batch).
    // r18: a scoped serve (state partitions derived from corpus size,
    // VERDICT r17 #5) was TRIED and REVERTED like the other gates —
    // cold profiling said 1.18→0.75 s, but the warm same-window A/B
    // measured scoped 1.10 vs adaptive 0.92 s (control-normalized) and
    // the full bench agreed. The 32-store rebuild is NOT the dominant
    // cost of this face; the adaptive plan is.
    "dedup_exact_stateful" -> ((s, d) => {
      val (dir, tsKey) = bloomIndexFor(s, d)
      graft.streaming.StatefulGates.exactGateStateful(
        documents(s, d).filter(col("doc_id") % 20 === 0),
        "doc_id", tsKey, dir)
    }),

    // STATE-STORE text near-dup flags, batch face (round 17): the
    // committed MinHash signatures live in band-bucket-keyed state;
    // candidates come from state POINT LOOKUPS (the stateful face of
    // MinHashIndex.probe — StatefulGatesSpec pins candidate-set
    // equality), then the SAME exact-verify code path
    // (MinHashIndex.verifyPairs, factored from probeVerified) and
    // the same per-doc fold as dedup_minhash_index_flags — whose
    // oracle this query SHARES VERBATIM, making the whole stateful
    // candidate route hash-verified against the join route.
    // r18: scoping this serve was TRIED and REVERTED — measured
    // in-profile 1.43 s (adaptive) → 13.3 s at the byte-derived width
    // (one 9.5 s task: the whole bucket scoring serialized) and still
    // ~3x over baseline at the work-width floor (AQE's runtime
    // coalescing/broadcasts genuinely pay here); the exact gate's
    // scoped serve was later reverted too (see ingestFrontDoor's note).
    "dedup_minhash_stateful" -> ((s, d) => {
      val dir = minhashIndexFor(s, d)
      val incoming = documents(s, d).filter(col("doc_id") % 20 === 0)
      val cand = graft.streaming.StatefulGates
        .nearDupCandidatesStateful(
          incoming.withColumn("ts",
            lit("2026-01-01 00:00:00").cast("timestamp")),
          "doc_id", "text", "ts", dir, estThreshold = 0.5)
        .filter(col("cand_id").isNotNull)
        .select(col("doc_id").as("id_a"), col("cand_id").as("id_b"))
        .distinct()
      val pairs = graft.ext.MinHashIndex.verifyPairs(cand, incoming,
          documents(s, d), "doc_id", "text", dir,
          threshold = JaccardThreshold)
        .filter(col("id_a") =!= col("id_b"))
      verdictFold(incoming,
        pairs.select(col("id_a").as("doc_id"), col("jaccard")))
    }),

    // STATE-STORE embedding near-dup flags, batch face (round 17):
    // the committed ANN index's probe-cell table lives in cell-keyed
    // state (AnnState = id, vector, norm — capacity-bounded at
    // ~corpus/nCells rows per cell by the index's own sizing rule);
    // candidates come from state lookups under the frozen centroids
    // (cosinePairsIndexed's probe×probe co-occurrence — the spec
    // pins gate equality vs annGate), exact cosine on every scored
    // pair, folded per vector exactly like dedup_embed_ann_flags —
    // whose oracle this query SHARES VERBATIM.
    // r18: scoped serve tried and REVERTED (same measurement as
    // dedup_minhash_stateful — the adaptive path wins on this shape)
    "dedup_embed_ann_stateful" -> ((s, d) => {
      val (dir, emb) = annIndexFor(s, d)
      val incoming = emb.filter(col("vec_id") % 20 === 0)
      val cand = graft.streaming.StatefulGates.annCandidatesStateful(
          incoming.withColumn("ts",
            lit("2026-01-01 00:00:00").cast("timestamp")),
          "vec_id", "embedding", "ts", emb, "vec_id", "embedding",
          dir, probes = 4)
        .filter(col("cand_id").isNotNull &&
          col("cos") >= CosineThreshold)
        .select(col("vec_id"), col("cand_id"), col("cos")).distinct()
      verdictFold(incoming, cand.select(col("vec_id"), col("cos")),
        round(_, 6))
    }),

    // The COMPOSED ingest front door (round 15): one row per incoming
    // document with all three admission verdicts — exact (committed
    // Bloom bitmap + key table), text near-dup (persisted MinHash
    // index, exact-verified), embedding near-dup (persisted ANN
    // index, exact cosine) — and the admit decision a training-data
    // pipeline acts on. Every leg serves from an at-rest index (no
    // corpus scan in any probe plan); the oracle is the three legs'
    // oracles joined, so the composition itself is hash-verified.
    "pipeline_ingest_gates" -> ((s, d) => {
      val (bdir, tsKey) = bloomIndexFor(s, d)
      val bl = graft.ext.BloomIndex.gate(
        documents(s, d).filter(col("doc_id") % 20 === 0),
        "doc_id", tsKey, bdir)
      val mh = minhashFlags(s, d).select(col("doc_id"),
        col("near_dup").as("nd_text"), col("best_jaccard"))
      val em = embedAnnFlags(s, d).select(
        col("vec_id").as("doc_id"),
        col("near_dup").as("nd_embed"), col("best_cos"))
      bl.select(col("doc_id"), col("exact_dup"))
        .join(mh, "doc_id").join(em, "doc_id")
        .select(col("doc_id"), col("exact_dup"),
          col("nd_text"), col("best_jaccard"),
          col("nd_embed"), col("best_cos"),
          (!col("exact_dup") && !col("nd_text") && !col("nd_embed"))
            .as("admit"))
    }),

    // SHORT-CIRCUITED front door: an exact-dup hit makes the two
    // near-dup verdicts moot, so the skipped legs report NULL. Both
    // names serve ONE code path, [[ingestFrontDoor]] — the battery,
    // the per-query bench history and the oracle keep keying on both.
    "pipeline_ingest_gates_fast" -> ((s, d) => ingestFrontDoor(s, d)),
    "pipeline_ingest_gates_composed" -> ((s, d) =>
      ingestFrontDoor(s, d)),

    // Bloom-filter front door of incremental ingest: "seen this exact
    // (token-set-canonical) document before?" answered with ONE
    // map-side probe per batch row against a fixed-size bitmap — no
    // batch×corpus join anywhere. The key is dedup_tokenset's
    // canonical form, so the testdata's planted token-set dups give
    // true hits; false positives are deterministic (md5-derived
    // double hashing) and the oracle replays them bit-exactly.
    // exact_dup is emitted alongside so the no-false-negative
    // guarantee (exact_dup => bloom_hit) is itself oracle-checked.
    "dedup_bloom" -> ((s, d) => {
      val tsKey = concat_ws(" ",
        array_sort(array_distinct(Dedup.tokens(col("text")))))
      graft.ext.Bloom.gate(
        documents(s, d).filter(col("doc_id") % 20 === 0),
        documents(s, d).filter(col("doc_id") % 20 =!= 0),
        "doc_id", tsKey, k = BloomK, mBits = BloomBits)
    }),

    "dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(documents(s, d), "doc_id", "text",
        maxHamming = SimhashRadius)),

    // Char-5-gram Jaccard near-dups (same LSH scaffold, char shingles).
    "dedup_ngram" -> ((s, d) =>
      Dedup.ngramPairs(documents(s, d), "doc_id", "text",
        n = 5, numHashes = 64, bands = 8, threshold = 0.7)),

    // Pair list → dedup GROUPS: iterative min-label connected
    // components; each doc labeled with its group's min doc_id.
    "dedup_groups" -> ((s, d) =>
      graft.operators.ConnectedComponents.labels(
          Dedup.minhashPairs(documents(s, d), "doc_id", "text",
            NumHashes, Bands, JaccardThreshold)
            .select(col("id_a"), col("id_b")))
        .select(col("id").as("doc_id"), col("label").as("group_id"))),

    // Survivor selection — the stage that PRODUCES the deduplicated
    // corpus: singleton docs survive as their own group; inside a
    // near-dup group the LONGEST text wins (ties -> min doc_id —
    // deterministic, oracle-checkable). Group labels reuse the CC
    // pass; the pick is one (group)-partitioned top-1 window over
    // skinny (doc_id, len, group_id) rows.
    "dedup_survivors" -> ((s, d) =>
      survivorPick(documents(s, d),
        Dedup.minhashPairs(documents(s, d), "doc_id", "text",
          NumHashes, Bands, JaccardThreshold))),

    "dedup_embed" -> ((s, d) =>
      Similarity.cosinePairsLsh(embeddings(s, d), "vec_id", "embedding",
          CosineThreshold, EmbedBands, EmbedRowsPerBand)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))),

    // The 100 TB route for dedup_embed's low-threshold tail: at
    // cosine >= 0.45 sign-LSH banding can't prune (BENCH_SF1 measured
    // the LSH leg 25x at 10x data), so candidates are confined to the
    // PERSISTED index's coarse cells instead — probe-4 cell
    // assignment as one map-side projection under the index's trained
    // quantizer, candidates = probe-probe co-occurrences, exact
    // cosine verify on candidates only. The index is built with
    // CAPACITY-BOUNDED cells (nCells = max(16, N/125), the production
    // posture: cell size stays ~constant as the corpus grows, so
    // candidate work is probes^2·cellSize·N = LINEAR in N — measured
    // ~10x at 10x data vs the LSH leg's 25x). Approximate by design
    // (pairs whose sides never probe a shared cell are missed —
    // recall vs brute force measured in AnnIndexSpec and BENCH_SF1,
    // with the probes knob curve); deterministic, so the oracle
    // replays it exactly, including the nCells scaling rule.
    "dedup_embed_ann" -> ((s, d) => {
      val (dir, emb) = annIndexFor(s, d)
      graft.ext.AnnIndex.cosinePairsIndexed(emb, "vec_id",
          "embedding", dir, CosineThreshold, probes = 4)
        .select(col("id_a"), col("id_b"),
          round(col("cos"), 6).as("cos"))
    }),

    // The HEADLINE operating point: probes=8 is where the indexed
    // route beats the sign-LSH leg on BOTH axes (recall 0.887 vs
    // 0.868, wall-clock 34 s vs 52 s — re-measured r14 at sf1.0 with
    // PairRecall, BENCH_SF1.md round-14 addendum) — oracle-checked
    // here so the configuration production would actually run is
    // itself hash-verified.
    "dedup_embed_ann_p8" -> ((s, d) => {
      val (dir, emb) = annIndexFor(s, d)
      graft.ext.AnnIndex.cosinePairsIndexed(emb, "vec_id",
          "embedding", dir, CosineThreshold, probes = 8)
        .select(col("id_a"), col("id_b"),
          round(col("cos"), 6).as("cos"))
    }),

    // TWO-LEVEL cell assignment (r14), as its own oracle-verified
    // query: the first ceil(sqrt(nCells)) trained centroids double as
    // super-cells and a row ranks only the CHILDREN of its top-3
    // supers — O(superProbes·sqrt(nCells)) dots per row, ranked
    // map-side, and a plan that stays narrow at ANY nCells (the child
    // table is literal data under higher-order functions, not an
    // nCells-wide codegen expression — the flat projection hits
    // Janino limits in the thousands of cells). MEASURED at sf1.0
    // (nCells=160, BENCH_SF1.md round-14 addendum): the hierarchy
    // costs recall at equal probes (p8: 0.765@sp3 … 0.862@sp8 vs flat
    // 0.887) and its constant factors only amortize at much larger
    // nCells, so
    // the HEADLINE queries above keep the flat ranking and this query
    // pins the at-scale route's correctness (assignment confinement +
    // sp>=nSuper==flat also spec'd in AnnIndexSpec). The oracle
    // replays the hierarchy exactly at any SF.
    "dedup_embed_ann_2level" -> ((s, d) => {
      val (dir, emb) = annIndexFor(s, d)
      graft.ext.AnnIndex.cosinePairsIndexed(emb, "vec_id",
          "embedding", dir, CosineThreshold, probes = 4,
          superProbes = 3)
        .select(col("id_a"), col("id_b"),
          round(col("cos"), 6).as("cos"))
    }),

    // Per-vector ingest VERDICTS from the indexed near-dup pairs —
    // the embedding analog of dedup_minhash_index_flags, and the
    // batch reference of StreamingOps.annGate (same candidate rule:
    // probe×probe co-occurrence under the committed index's frozen
    // centroids; exact cosine on candidates only): each incoming
    // vector (every 20th) reports whether a DIFFERENT vector sits
    // above the cosine threshold among its candidates, with the
    // match count and best cosine. LEFT join from the incoming
    // universe, so candidate-less vectors still report
    // near_dup=false.
    "dedup_embed_ann_flags" -> ((s, d) => embedAnnFlags(s, d)),

    // Semantic-dup GROUPS over the indexed embedding pairs — the
    // embedding analog of dedup_groups (same min-label CC operator,
    // edges from cosinePairsIndexed's probe-confined candidates at
    // the headline threshold). Oracle: the shared CC recursive CTE
    // over the embed-pair oracle.
    "dedup_embed_ann_groups" -> ((s, d) => {
      val (dir, emb) = annIndexFor(s, d)
      graft.operators.ConnectedComponents.labels(
          graft.ext.AnnIndex.cosinePairsIndexed(emb, "vec_id",
            "embedding", dir, CosineThreshold, probes = 4)
            .select(col("id_a"), col("id_b")))
        .select(col("id").as("vec_id"), col("label").as("group_id"))
    }),

    // ...and the groups SERVED FROM THE AT-REST TABLE (round 16 —
    // the embedding analog of dedup_groups_incremental's lifecycle):
    // AnnIndex.buildGroups commits the CC labels once (GROUPS_READY
    // digests the index marker + mining params), appendGroups folds
    // arriving batches through the shared super-node CC, and this
    // query serves the labels with ONE skinny groups read — no pair
    // re-mine, no corpus-wide CC. Shares dedup_embed_ann_groups'
    // oracle verbatim — that sharing IS the equality check.
    "dedup_embed_ann_groups_index" -> ((s, d) => {
      val (dir, emb) = annIndexFor(s, d)
      if (!graft.ext.AnnIndex.groupsFresh(s, dir, CosineThreshold))
        graft.ext.AnnIndex.buildGroups(emb, "vec_id", "embedding",
          dir, CosineThreshold)
      graft.ext.AnnIndex.readGroups(s, dir)
        .select(col("id").as("vec_id"), col("label").as("group_id"))
    }),

    // SemDeDup (Abbas et al. 2023): cluster the embedding space, then
    // prune near-identical members WITHIN each cluster — the
    // cluster-then-prune shape that makes semantic dedup tractable at
    // corpus scale (pairwise work is bounded by cluster size, and the
    // cluster count grows with the corpus; a degenerate hot cluster
    // would take the candidateOverlap-style salting treatment).
    // Clusters are the same deterministic first-16 coarse quantizer
    // sim_ann_ivf oracles (argmax dot, ties to the smaller cell).
    // Keep rule, exactly the paper's diversity-keeping order: within a
    // cluster, priority = LOWEST similarity-to-centroid first (ties by
    // id); a doc is dropped iff some earlier-priority clustermate is
    // cosine-similar above the threshold. All comparisons are over
    // bit-identical cross-engine dot folds, so the oracle replays
    // drops exactly.
    "dedup_semantic" -> ((s, d) => {
      val emb = embeddings(s, d)
      val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16)
      import s.implicits._
      val centDf = cents.zipWithIndex
        .map { case (c, j) => (j, c.map(_.toDouble)) }.toDF("cell", "cv")
      val withCell = emb.select(col("vec_id"), col("embedding").as("v"))
        .withColumn("cell", Similarity.ivfCell(col("v"), cents))
      // lazily checkpointed: pri feeds both self-join sides and the
      // final keep join — the assignment projection is map-side cheap
      // but would otherwise re-scan the embeddings three times
      val pri = withCell.join(broadcast(centDf), "cell")
        .select(col("cell"), col("vec_id"), col("v"),
          (Similarity.dot(col("v"), col("cv")) /
            (Similarity.l2norm(col("v")) *
              Similarity.l2norm(col("cv")))).as("cs"))
        .localCheckpoint(false)
      val a = pri.select(col("cell"), col("vec_id").as("id_a"),
        col("v").as("va"), col("cs").as("csa"))
      val b = pri.select(col("cell"), col("vec_id").as("id_b"),
        col("v").as("vb"), col("cs").as("csb"))
      val dropped = a.join(b, "cell")
        .filter(col("id_a") =!= col("id_b"))
        .filter(col("csb") < col("csa") ||
          (col("csb") === col("csa") && col("id_b") < col("id_a")))
        .filter(Similarity.dot(col("va"), col("vb")) /
          (Similarity.l2norm(col("va")) *
            Similarity.l2norm(col("vb"))) >= CosineThreshold)
        .select(col("id_a").as("vec_id")).distinct()
        .withColumn("__drop", lit(true))
      pri.join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          round(col("cs"), 6).as("centroid_sim"),
          col("__drop").isNull.as("kept"))
    }),

    // --- similarity search ---
    // Per-vector symmetric int8 quantization (4x embedding storage/
    // shuffle cut): one codegen'd map-side expression, no shuffle —
    // codes oracle-checked against DuckDB's round() element by element.
    // Output is posexploded to scalar (vec_id, pos, code) rows: the
    // driver's canonicalizer sorts cells with pandas and cannot hash
    // an array column, so every oracle-gated query must emit scalar
    // top-level columns only (pinned by OutputShapeSpec).
    "sim_quantize" -> ((s, d) => {
      embeddings(s, d)
        .select(col("vec_id"),
          posexplode(graft.functions.QuantizeI8.quantize_i8(col("embedding"))))
        .select(col("vec_id"), col("pos"), col("col").as("code"))
    }),

    // Retrieval over the int8 CODES: per-vector symmetric quantization
    // scales cancel in cosine (cos(c*s/127, q) == cos(c, q)), so
    // quantized top-k needs no dequantization at all — the 4x-smaller
    // codes are scanned directly (cast to double for the codegen'd
    // dot; a cast, not an interpreted HOF). Deterministic end to end:
    // integer codes + double folds on both engines.
    "sim_ann_quantized" -> ((s, d) => {
      val codes = embeddings(s, d).select(col("vec_id"),
        graft.functions.QuantizeI8.quantize_i8(col("embedding"))
          .cast("array<double>").as("qv"))
      val q = codes.filter(col("vec_id") === 0)
        .select("qv").head().getSeq[Double](0).map(_.toFloat)
      Similarity.topK(codes, "vec_id", "qv", q, 10)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    }),

    // kNN weak labeling: every 50th vector treated as unlabeled and
    // classified by majority vote of its 5 nearest neighbors — the
    // proven knnJoin (shared banding, guaranteed k) composed with a
    // broadcast label join and one per-query argmax window. Ties ->
    // smaller label, deterministic.
    "sim_knn_classify" -> ((s, d) => {
      val emb = embeddings(s, d)
      val knn = Similarity.knnJoin(emb.filter(col("vec_id") % 50 === 0),
        emb, "vec_id", "embedding", k = 5, EmbedBands, EmbedRowsPerBand)
      knn.join(emb.select(col("vec_id").as("cid"), col("label")), "cid")
        .groupBy("qid", "label").agg(count(lit(1)).as("votes"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(desc("votes"), col("label"))))
        .filter(col("rn") === 1)
        .select(col("qid"), col("label").as("pred_label"), col("votes"))
    }),

    // Per-class embedding prototypes (the weak-label/centroid table a
    // training pipeline derives per class) — computed over the int8
    // CODE space so the per-dimension means are integer-sum exact and
    // order-independent: float sums are shuffle-order noisy, and
    // float->decimal casts round differently per engine, but codes
    // are bytes. One explode + one partial-agg'd groupBy; |labels| x
    // dim output regardless of corpus size.
    "embed_centroids" -> ((s, d) => {
      embeddings(s, d)
        .select(col("label"), posexplode(
          graft.functions.QuantizeI8.quantize_i8(col("embedding")))
          .as(Seq("dim", "c")))
        .groupBy("label", "dim")
        .agg(sum(col("c").cast("long")).as("sc"), count(lit(1)).as("n"))
        .select(col("label"), col("dim"),
          (col("sc").cast("double") / col("n")).as("centroid"))
    }),

    // Higher-order array functions as codegen'd expressions (no UDF):
    // L2 norm (aggregate fold), positive-component count (filter),
    // max-abs (transform + array_max), reverse self-dot (zip_with).
    // The embedding's element order is FIXED, so every double fold is
    // the same IEEE sequence in both engines — array folds are
    // deterministic where shuffle-order double sums are not.
    "array_hof" -> ((s, d) =>
      embeddings(s, d).select(col("vec_id"),
        expr("""aggregate(transform(embedding, x -> CAST(x AS DOUBLE)),
          CAST(0 AS DOUBLE), (a, x) -> a + x * x)""").as("norm2"),
        expr("size(filter(embedding, x -> x > 0))").as("n_pos"),
        expr("""array_max(transform(embedding,
          x -> abs(CAST(x AS DOUBLE))))""").as("max_abs"),
        expr("""aggregate(zip_with(
            transform(embedding, x -> CAST(x AS DOUBLE)),
            reverse(transform(embedding, x -> CAST(x AS DOUBLE))),
            (a, b) -> a * b),
          CAST(0 AS DOUBLE), (a, x) -> a + x)""").as("self_rev_dot"))),

    "sim_topk" -> ((s, d) => {
      val q = embeddings(s, d).filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      Similarity.topK(embeddings(s, d), "vec_id", "embedding", q, 10)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    }),

    // Embedding-table QA — the vector-space health check before any
    // ANN index build: per-label vector counts, dimension uniformity,
    // and the squared-norm distribution (collapsed embeddings → norms
    // near 0; exploded → runaway norms). Each norm² is one map-side
    // DotDouble fold (deterministic per row); the SUM quantizes each
    // norm² to integer micro-units first — floor(n2 * 1e6) is one
    // IEEE multiply plus an exact floor (no midpoint, no rounding
    // mode, no engine-discretionary double→decimal path — the seam
    // that shipped r9's only red), so the BIGINT sum is exact and
    // shuffle-order-proof. min/max stay raw doubles (repr-hashed
    // exactly, like every green sim_* query).
    "profile_embeddings" -> ((s, d) => {
      val emb = embeddings(s, d)
      val n2 = Similarity.dot(col("embedding"), col("embedding"))
      emb.select(col("label"), size(col("embedding")).as("dim"),
          n2.as("n2"),
          floor(n2 * lit(1000000.0)).cast("long").as("n2u"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vectors"),
          countDistinct(col("dim")).as("n_dims"),
          min(col("n2")).as("min_norm2"),
          max(col("n2")).as("max_norm2"),
          sum(col("n2u")).as("sum_norm2_micro"))
    }),

    // Diversity-aware re-ranking (maximal marginal relevance,
    // Carbonell & Goldstein 1998) — the curation step between
    // retrieval and selection: from the top-20 cosine candidates,
    // greedily pick 5 maximizing λ·rel − (1−λ)·max-sim-to-selected
    // (λ = 0.7, ties to the smaller vec_id). The scale split is the
    // one every real system uses: candidate generation is the
    // DISTRIBUTED part (brute force here; the ANN tiers elsewhere in
    // this file at scale), the re-rank runs on the k-bounded
    // candidate set driver-side — 20 vectors, the same bounded
    // collect as the IVF centroid means. Every double op replays the
    // DotDouble fold order (left-to-right, elementwise float→double
    // first), so the 5 unrolled selection steps are SQL-replayable
    // bit for bit.
    "sim_mmr" -> ((s, d) => {
      val emb = embeddings(s, d)
      val qv = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      val cand = Similarity.topK(emb.filter(col("vec_id") =!= 0),
          "vec_id", "embedding", qv, 20)
        .join(emb, "vec_id")
        .select("vec_id", "score", "embedding")
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1),
          r.getSeq[Float](2)))
        .sortBy(t => (-t._2, t._1))
      def cos(a: Seq[Float], b: Seq[Float]): Double = {
        def dotD(x: Seq[Float], y: Seq[Float]): Double = {
          var acc = 0.0; var i = 0
          while (i < x.length) { acc += x(i).toDouble * y(i).toDouble
            i += 1 }
          acc
        }
        dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b)))
      }
      val lambda = 0.7
      val selected = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Double, Seq[Float], Double)] // id, rel, v, mmr
      var remaining = cand.toList
      while (selected.length < 5 && remaining.nonEmpty) {
        val scored = remaining.map { case (id, rel, v) =>
          val pen = if (selected.isEmpty) 0.0
            else selected.map(sl => cos(v, sl._3)).max
          (id, rel, v, lambda * rel - (1.0 - lambda) * pen)
        }
        val best = scored.minBy { case (id, _, _, m) => (-m, id) }
        selected += best
        remaining = remaining.filterNot(_._1 == best._1)
      }
      val s2 = s
      import s2.implicits._
      selected.zipWithIndex.map { case ((id, rel, _, m), i) =>
        (i + 1L, id, graft.ext.ExactQuantiles.round6(rel),
          graft.ext.ExactQuantiles.round6(m))
      }.toSeq.toDF("rank", "vec_id", "rel", "mmr")
    }),

    // Product-quantization retrieval — the third compression tier
    // (float32 -> int8 -> PQ codes): ADC over the codes picks 80
    // candidates, exact cosine rescores to top-10. Codebooks are
    // TRAINED — integer-exact Lloyd over int8 subvector codes, every
    // step replayable in SQL, so the 3-round training is part of the
    // generated oracle. Operating point m=32/nc=64: these embeddings
    // are unclustered with ~0.005 cosine margins between exact top-10
    // neighbors, so coarse 8-dim subspaces cannot rank them (measured
    // 3-6/10 raw regardless of training); 2-dim subspaces with 64
    // trained centroids reach 8/10 raw at ~10x compression — pinned
    // in SimilaritySpec.
    "sim_pq" -> ((s, d) => {
      val emb = embeddings(s, d)
      // ONE head action (dim + i8 scale + first-64 vectors) also
      // serves the query vector (id 0) — was 3 serial actions before
      // any parallel work (r18, VERDICT r17 #4)
      val h = Similarity.pqHead(emb, "vec_id", "embedding", 64)
      val q = h.first.getOrElse(0L, emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0))
      Similarity.pqTopKRescored(emb, "vec_id", "embedding",
          q, m = 32, nCentroids = 64, k = 10, nCand = 80,
          head = Some(h))
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    }),

    // IVF-PQ — the composed scale path (FAISS "IVF16,PQ32"-style with
    // global codebooks): coarse cells prune the scan to the query's 2
    // probed cells, PQ ADC scores ONLY those cells' codes, exact
    // cosine rescores the 80-candidate shortlist. Same deterministic
    // quantizers as sim_ann_ivf + sim_pq → the generated oracle
    // replays train-prune-scan-rescore end to end.
    "sim_ann_ivfpq" -> ((s, d) => {
      val emb = embeddings(s, d)
      // shared head: coarse centroids (first 16), PQ init (first 64),
      // scale, dim, and the query vector — one action (r18)
      val h = Similarity.pqHead(emb, "vec_id", "embedding", 64)
      val q = h.first.getOrElse(0L, emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0))
      Similarity.ivfPqTopK(emb, "vec_id", "embedding", q,
          nCells = 16, probes = 2, m = 32, nCentroids = 64, k = 10,
          nCand = 80, head = Some(h))
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    }),

    // IVF-PQ with the PERSISTED lifecycle (ext/AnnIndex): the first
    // invocation per corpus trains ONCE and writes the index tables
    // (coarse cells + integer PQ codebooks + codes partitioned by
    // cell); every later invocation — including bench passes 2..n,
    // whose min is the reported number — LOADS and serves: a
    // partition-pruned ADC scan of the probed cells plus the exact
    // rescore, no training stage in the plan (pinned in AnnIndexSpec).
    // Hash-identical to sim_ann_ivfpq, so it shares that oracle.
    // Staleness: the INDEX_READY marker embeds the params and the
    // corpus parquet's file-metadata fingerprint — regenerated
    // testdata or changed geometry rebuilds, a warm index is a
    // metadata check (no corpus scan) away from serving.
    "sim_ann_ivfpq_persisted" -> ((s, d) => {
      val (dir, fp) = annIndexDir(s, d)
      graft.ext.AnnIndex.ensureBuilt(embeddings(s, d), "vec_id",
        "embedding", dir, nCells = 16, m = 32, nCentroids = 64,
        iters = 3, fingerprint = fp)
      val q = embeddings(s, d).filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      graft.ext.AnnIndex.search(embeddings(s, d), "vec_id",
          "embedding", dir, q, probes = 2, k = 10, nCand = 80)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    }),

    // BATCH serve against the SAME persisted index: a 10-query table
    // answered in one pass — one partition-pruned codes scan for the
    // union of probed cells, one corpus rescore scan, per-query
    // windows (AnnIndexSpec pins the plan and row-identity to 10
    // per-query search() calls). This is the production serve shape:
    // per-query results at batch amortization. The oracle generalizes
    // the train-prune-scan-rescore replay to qid-keyed CTEs.
    "sim_ann_ivfpq_batch" -> ((s, d) => {
      val (dir, fp) = annIndexDir(s, d)
      graft.ext.AnnIndex.ensureBuilt(embeddings(s, d), "vec_id",
        "embedding", dir, nCells = 16, m = 32, nCentroids = 64,
        iters = 3, fingerprint = fp)
      val queries = embeddings(s, d)
        .filter(col("vec_id") % 50 === 0 && col("vec_id") < 500)
      graft.ext.AnnIndex.searchBatch(embeddings(s, d), "vec_id",
          "embedding", dir, queries, "vec_id", "embedding",
          probes = 2, k = 10, nCand = 80)
        .select(col("qid"), col("vec_id"),
          round(col("score"), 6).as("score"))
    }),

    // DISTRIBUTED batch serve (r14): the same batch answered with the
    // query table kept as a distributed scan end to end — probe cells
    // ranked map-side (AnnIndex.probeCellsCol), dynamic
    // cell-set semi-join pruning of the codes scan, ADC re-derived on
    // the fly from the raw query vector and the literal codebooks
    // (same folds, same m-term sum order → row-identical to
    // searchBatch, pinned in AnnIndexSpec along with the
    // no-driver-materialization plan shape). This is the route for
    // UNBOUNDED query tables; searchBatch stays the bit-exact bounded
    // serve contract. Same oracle replay as sim_ann_ivfpq_batch.
    "sim_ann_ivfpq_batch_dist" -> ((s, d) => {
      val (dir, fp) = annIndexDir(s, d)
      graft.ext.AnnIndex.ensureBuilt(embeddings(s, d), "vec_id",
        "embedding", dir, nCells = 16, m = 32, nCentroids = 64,
        iters = 3, fingerprint = fp)
      val queries = embeddings(s, d)
        .filter(col("vec_id") % 50 === 0 && col("vec_id") < 500)
      graft.ext.AnnIndex.searchBatchDist(embeddings(s, d), "vec_id",
          "embedding", dir, queries, "vec_id", "embedding",
          probes = 2, k = 10, nCand = 80)
        .select(col("qid"), col("vec_id"),
          round(col("score"), 6).as("score"))
    }),

    // The INCREMENTAL leg of the persisted lifecycle: build the index
    // on the first 256 vectors, APPEND the rest encoded with FROZEN
    // quantizers (stored scale, codebooks, coarse cells — no
    // retraining, existing partitions untouched), then serve. The
    // composed marker makes repeat invocations serve-only (no rebuild,
    // no duplicate append). The oracle replays the same split: train
    // CTEs restricted to vec_id < 256, encode + probe + rescore
    // corpus-wide.
    "sim_ann_ivfpq_append" -> ((s, d) => {
      val (dir, fp) = annIndexDir(s, d, "_append")
      val emb = embeddings(s, d)
      graft.ext.AnnIndex.ensureBuiltWithAppend(
        emb.filter(col("vec_id") < 256),
        emb.filter(col("vec_id") >= 256), "vec_id", "embedding", dir,
        nCells = 16, m = 32, nCentroids = 64, iters = 3,
        fingerprint = fp)
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      graft.ext.AnnIndex.search(emb, "vec_id", "embedding", dir, q,
          probes = 2, k = 10, nCand = 80)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    }),

    // IVF ANN — deterministic coarse cells (first 16 vectors), probe-2
    // search, exact scores within probed cells. Fully deterministic
    // (tie-breaks pinned) → SQL oracle below replicates cell
    // assignment, probing, and scoring.
    "sim_ann_ivf" -> ((s, d) => {
      val q = embeddings(s, d).filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      Similarity.ivfTopK(embeddings(s, d), "vec_id", "embedding", q,
          nCentroids = 16, probes = 2, k = 10)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    }),

    // Sign-LSH pruned ANN — bucket bit j = [dot(v, plane_j) > 0] with
    // the first 8 vectors as planes; multi-probe Hamming <= 2. The
    // dot-product fold is bit-identical cross-engine, so the sign
    // thresholds (and thus buckets) reproduce exactly → SQL oracle.
    "sim_ann_lsh" -> ((s, d) => {
      val planes = embeddings(s, d).filter(col("vec_id") < 8)
        .orderBy("vec_id").select("embedding")
        .collect().map(_.getSeq[Float](0).toSeq).toSeq
      val q = embeddings(s, d).filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      Similarity.annTopK(embeddings(s, d), "vec_id", "embedding", q,
          planes, 10, probeHamming = 2)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    }),

    // Batch k-NN join: a query TABLE (every 50th vector) against the
    // full corpus — candidates from the shared sign-LSH banding, exact
    // cosine, windowed top-5 per query. Deterministic banding +
    // cid tie-break → full SQL oracle (mirrors dedup_embed's).
    "sim_knn_join" -> ((s, d) =>
      Similarity.knnJoin(
          embeddings(s, d).filter(col("vec_id") % 50 === 0),
          embeddings(s, d), "vec_id", "embedding", k = 5,
          EmbedBands, EmbedRowsPerBand)
        .select(col("qid"), col("cid"), col("rank"),
          round(col("cos"), 6).as("cos"))),

    // Retrieval-quality evaluation — the "measure your index" op every
    // vector pipeline needs before trusting an ANN path: recall@5 of
    // the banded knnJoin against exact brute-force ground truth, per
    // query. The truth leg broadcasts ONLY the query vectors against
    // one corpus scan (the knnJoin rescue-leg shape — explicitly
    // bounded, |queries| rows, never corpus x corpus), the windows
    // partition by qid, and the output is integer hit counts — no
    // float in the hash path at all.
    "sim_recall_eval" -> ((s, d) => {
      val emb = embeddings(s, d)
      val approx = Similarity.knnJoin(
          emb.filter(col("vec_id") % 50 === 0), emb, "vec_id",
          "embedding", k = 5, EmbedBands, EmbedRowsPerBand)
        .select("qid", "cid")
      val n = emb.select(col("vec_id"), col("embedding"),
        Similarity.l2norm(col("embedding")).as("nrm"))
      val q = n.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("nrm").as("qn"))
      val scored = n.crossJoin(broadcast(q))
        .select(col("qid"), col("vec_id").as("cid"),
          (Similarity.dot(col("qv"), col("embedding")) /
            (col("qn") * col("nrm"))).as("cos"))
      val exact = scored.withColumn("r", row_number().over(
          Window.partitionBy("qid").orderBy(desc("cos"), col("cid"))))
        .filter(col("r") <= 5).select("qid", "cid")
      q.select("qid").join(
          approx.join(exact, Seq("qid", "cid"), "left_semi")
            .groupBy("qid").agg(count(lit(1)).as("h")),
          Seq("qid"), "left")
        .select(col("qid"), coalesce(col("h"), lit(0L)).as("n_hits"))
    }),

    // --- text analysis ---
    "text_stats" -> ((s, d) => {
      val ws = Dedup.tokens(col("text"))
      documents(s, d).select(
        col("doc_id"),
        size(ws).as("n_tokens"),
        size(array_distinct(ws)).as("n_uniq"),
        TextAnalysis.bpeishCount(col("text")).as("n_bpeish"),
        TextAnalysis.avgTokenLength(ws).as("avg_len"),
        TextAnalysis.stopwordRatio(ws).as("stop_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
    }),

    // Gopher-style composite quality: four public heuristics as exact
    // indicator columns plus their mean — the per-document score that
    // sample_quality weights by and pipeline_filter gates on. One
    // map-side projection, no shuffle.
    "text_quality" -> ((s, d) => {
      val ws = Dedup.tokens(col("text"))
      documents(s, d).select(
        col("doc_id"),
        TextAnalysis.avgTokenLength(ws).as("mean_word_len"),
        TextAnalysis.symbolWordRatio(ws).as("symbol_ratio"),
        TextAnalysis.alphaWordFrac(ws).as("alpha_frac"),
        TextAnalysis.distinctStopwords(ws).as("n_stop_distinct"),
        TextAnalysis.gopherScore(col("text")).as("gq"))
    }),

    // Importance sampling weighted by the Gopher composite: a doc
    // passing k of the 4 gates keeps with probability k/4 * rate —
    // still one pushable map-side predicate (weightedKeep).
    "sample_quality" -> ((s, d) =>
      documents(s, d)
        .filter(Sampling.weightedKeep(col("doc_id"), "graftq",
          TextAnalysis.gopherScore(col("text")), 0.5))
        .select(col("doc_id"), col("lang"), col("source"))),

    "text_langid" -> ((s, d) =>
      documents(s, d).select(col("doc_id"),
        TextAnalysis.markerLangId(col("text")).as("pred_lang"))),

    "text_fingerprint" -> ((s, d) =>
      documents(s, d).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),

    // Custom Catalyst Expression (codegen'd rolling hash). Oracle
    // emulates the 64-bit wrap-around polynomial in DuckDB HUGEINT
    // arithmetic over codepoints (== UTF-8 bytes for this pure-ASCII
    // corpus; ScalaTest additionally covers the unicode byte path).
    "text_rollhash" -> ((s, d) => {
      documents(s, d).select(col("doc_id"),
        RollingHash64.rolling_hash64(TextAnalysis.normalized(col("text")))
          .as("rh"))
    }),

    // PII detect + redact over synthetic planted PII (see synthPii).
    // One map-side pass: counts per class + fingerprint of the
    // redacted text (full-text compare without shipping full text).
    "text_pii" -> ((s, d) => {
      val t = synthPii(col("doc_id"), col("text"))
      documents(s, d).select(col("doc_id"),
        TextAnalysis.piiCount(t, TextAnalysis.EmailRe).as("n_email"),
        TextAnalysis.piiCount(t, TextAnalysis.Ipv4Re).as("n_ip"),
        TextAnalysis.piiCount(t, TextAnalysis.SsnRe).as("n_ssn"),
        TextAnalysis.piiCount(t, TextAnalysis.PhoneRe).as("n_phone"),
        md5(TextAnalysis.redactPii(t)).as("red_fp"))
    }),

    // Within-doc repetition signals (Gopher-style quality filter):
    // duplicate-bigram fraction map-side; top-token ratio via the
    // scalable explode → (doc,token) count → per-doc max shape (no
    // per-doc quadratic HOF).
    "text_repetition" -> ((s, d) => {
      val base = documents(s, d)
        .select(col("doc_id"), Dedup.tokens(col("text")).as("ws"))
      val gramStats = base.select(col("doc_id"),
        size(col("ws")).as("n_tokens"),
        TextAnalysis.dupBigramFraction(col("ws")).as("dup2_frac"))
      val tokStats = base
        .select(col("doc_id"), explode(col("ws")).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("top_c"), sum("c").as("n_c"))
        .select(col("doc_id"),
          (col("top_c").cast("double") / col("n_c")).as("top_tok_ratio"))
      gramStats.join(tokStats, "doc_id")
    }),

    // RAKE keyword extraction (ext/Rake): top-3 stopword-delimited
    // phrases per doc by exact micro-unit degree/frequency scores —
    // the within-document complement to text_tfidf's corpus ranking.
    "text_rake" -> ((s, d) =>
      Rake.topPhrases(documents(s, d), "doc_id", "text", 3)
        .select(col("id").as("doc_id"), col("rake_rank"), col("phrase"),
          col("score_micro"), col("n_occ"))),

    // Corpus collocation mining: top-25 adjacent word bigrams by PMI
    // lift c12·N/(c1·c2) — phrase discovery, the corpus-level
    // companion to text_rake's within-doc extraction. The lift is the
    // PMI argument without the log (monotone for ranking, and exact:
    // DECIMAL(38,0) product, floor-divided to micro-units — all
    // operands non-negative so trunc == floor; docs/HASH_NUMERICS.md).
    // The c12 >= 5 support floor is the standard collocation noise
    // gate. (lift desc, w1, w2) is a unique total order for the
    // limit. Scale shape: one doc-keyed lead window, two partial-agg
    // shuffles to vocab-bounded tables, keyed joins (AQE broadcasts
    // them at test scale; at web-scale vocab they stay keyed), and a
    // TakeOrdered top-k.
    "text_collocations" -> ((s, d) => {
      val tk = documents(s, d).select(col("doc_id"),
        posexplode(regexp_extract_all(lower(col("text")), lit("[a-z]+"),
          lit(0))).as(Seq("pos", "w")))
      val wd = Window.partitionBy("doc_id").orderBy("pos")
      val big = tk.withColumn("w2", lead(col("w"), 1).over(wd))
        .filter(col("w2").isNotNull)
        .groupBy(col("w").as("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val uni = tk.groupBy(col("w").as("u")).agg(count(lit(1)).as("cu"))
      val nt = tk.agg(count(lit(1)).as("nt"))
      big
        .join(uni.select(col("u").as("w1"), col("cu").as("c1")), "w1")
        .join(uni.select(col("u").as("w2"), col("cu").as("c2")), "w2")
        .crossJoin(broadcast(nt))
        .filter(col("c12") >= 5)
        .withColumn("lift_micro", expr(
          """CAST(CAST(c12 AS DECIMAL(38,0)) * nt * 1000000
               DIV (CAST(c1 AS DECIMAL(38,0)) * c2) AS BIGINT)"""))
        .orderBy(desc("lift_micro"), col("w1"), col("w2"))
        .limit(25)
        .select("w1", "w2", "c12", "lift_micro")
    }),

    // TF-IDF top-3 terms per doc. Two partial-agg shuffles (doc×term,
    // then term) + a broadcast of the 1-row corpus count; ranking on
    // the ROUNDED score so cross-engine ulp noise in ln() can't flip
    // near-tie ranks.
    "text_tfidf" -> ((s, d) => {
      val docs = documents(s, d)
      val tf = docs
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      val w = Window.partitionBy("doc_id").orderBy(desc("score"), col("term"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("rn"), col("score"))
    }),

    // Corpus vocabulary: term -> total occurrences + document
    // frequency, top 50 by tf (term tie-break). The canonical
    // vocab-build job: partial aggregation does the reduction
    // map-side, the top-k is over the already-tiny term table.
    "vocab_topk" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        .orderBy(desc("tf"), col("term")).limit(50)),

    // KMV (k-minimum-values) set-similarity sketch — the sketch HLL
    // cannot be: it supports INTERSECTION estimates, so pairwise
    // vocabulary Jaccard across language corpora costs k rows per
    // side instead of a vocab×vocab join. Per lang, the k smallest
    // md5(token) values (via the skew-safe two-phase TopK — no
    // single task ever sorts a whole language's vocabulary); per
    // pair, merge-and-truncate to k, estimate J = |both| / |sketch|.
    // Deterministic given the data (hash order, not sampling), so the
    // oracle replays it exactly; output in integer basis points.
    "approx_jaccard_kmv" -> ((s, d) => {
      val k = 64
      val hashed = documents(s, d)
        .select(col("lang"), explode(Dedup.tokens(col("text"))).as("tok"))
        .distinct()
        .select(col("lang"), md5(col("tok")).as("h"))
      val sk = graft.operators.TopK.topKPerKey(hashed, Seq("lang"),
        Seq(col("h")), k).drop("rank")
      val langs = hashed.select("lang").distinct()
      val pairs = langs.select(col("lang").as("la"))
        .join(langs.select(col("lang").as("lb")), col("la") < col("lb"))
      val tagged = pairs
        .join(sk.withColumnRenamed("lang", "la"), Seq("la"))
        .select(col("la"), col("lb"), col("h"),
          lit(1L).as("in_a"), lit(0L).as("in_b"))
        .unionByName(pairs
          .join(sk.withColumnRenamed("lang", "lb"), Seq("lb"))
          .select(col("la"), col("lb"), col("h"),
            lit(0L).as("in_a"), lit(1L).as("in_b")))
      val merged = tagged.groupBy("la", "lb", "h")
        .agg(max("in_a").as("a"), max("in_b").as("b"))
      val wp = Window.partitionBy("la", "lb").orderBy("h")
      merged.withColumn("rn", row_number().over(wp))
        .filter(col("rn") <= k)
        .groupBy("la", "lb")
        .agg(count(lit(1)).as("n_sketch"),
          sum(col("a") * col("b")).as("n_both"))
        .select(col("la"), col("lb"), col("n_sketch"), col("n_both"),
          expr("n_both * 10000 DIV n_sketch").as("jaccard_bp"))
    }),

    // The KMV sketch as a REAL custom aggregate
    // (functions/KmvDistinct, TypedImperativeAggregate): per-lang
    // distinct-token estimates with map-side-combined k-capped
    // partial state — the production-sketch shape, vs
    // approx_jaccard_kmv's window spelling. The estimate is a pure
    // function of the input set (md5-60-bit order statistics, no
    // randomness), so the oracle replays it exactly; the exact
    // distinct count rides along as the accuracy reference.
    "approx_distinct_kmv" -> ((s, d) =>
      documents(s, d)
        .select(col("lang"), explode(Dedup.tokens(col("text"))).as("tok"))
        .groupBy("lang")
        .agg(expr("kmv_distinct(tok, 128)").as("est_distinct"),
          countDistinct(col("tok")).as("exact_distinct"))),

    // Conjunctive keyword search (inverted-index AND semantics):
    // docs containing ALL query terms. The isin filter drops
    // non-matching tokens before the shuffle, so the aggregate sees
    // only |terms| rows per candidate doc at any corpus size.
    "search_and" -> ((s, d) => {
      val terms = Seq("spark", "join", "window")
      documents(s, d)
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("t"))
        .filter(col("t").isin(terms: _*))
        .groupBy("doc_id").agg(countDistinct(col("t")).as("n_hit"))
        .filter(col("n_hit") === terms.size)
        .select(col("doc_id"))
    }),

    // Positional PHRASE search — conjunctive search's stricter
    // sibling: tokens must be ADJACENT, not merely co-present. One
    // doc_id-partitioned lead window supplies in-doc adjacency (the
    // bigram idiom of dedup's shingles), the phrase filter runs before
    // the aggregate, and the per-doc hit count is the output. At
    // scale, the first-word filter prunes the window's output before
    // any shuffle beyond the doc_id exchange.
    "search_phrase" -> ((s, d) => {
      val tok = documents(s, d).select(col("doc_id"),
        posexplode(Dedup.tokens(col("text"))).as(Seq("pos", "w")))
      tok.withColumn("w2", lead(col("w"), 1).over(
          Window.partitionBy("doc_id").orderBy("pos")))
        .filter(col("w") === "table" && col("w2") === "hash")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    }),

    // BM25 (k1=1.2, b=0.75) top-10 for a fixed 3-term query. The
    // per-term tf's are PIVOTED to columns by conditional aggregation
    // so the score is a fixed-order 3-term sum — bit-deterministic
    // cross-engine (a per-(doc,term)-row SUM would add in shuffle
    // order). Corpus stats (N, Σdl, df per term) are one 1-row
    // aggregate broadcast back — the same bounded-crossJoin pattern
    // as the IVF centroids. ln() is IEEE-identical on both engines
    // (proven by text_tfidf).
    "search_bm25" -> ((s, d) =>
      bm25Scored(s, d)
        .orderBy(desc("score"), col("doc_id")).limit(10)
        .select(col("doc_id"), round(col("score"), 6).as("score"))),

    // Hybrid retrieval — Reciprocal Rank Fusion (Cormack et al. 2009,
    // the fusion every production RAG stack runs) of the lexical BM25
    // leg and the embedding cosine leg. Each leg contributes
    // floor(1e9 / (60 + rank)) — the standard k=60 RRF term in exact
    // integer micro-units (one DIV, no float reciprocal seam;
    // docs/HASH_NUMERICS.md) — and a doc absent from a leg gets that
    // leg's 0, the standard RRF convention. Both legs are k-bounded
    // (20 rows) before ranking, so the rank windows run over constant
    // pmod partition keys (bounded by construction, never
    // corpus-sized), the fusion join is trivially broadcast, and each
    // leg keeps its own scale posture (BM25: one agg + bounded-stats
    // crossJoin + TakeOrdered; cosine: one codegen'd dot scan +
    // TakeOrdered). The embeddings table is row-aligned with
    // documents (vec_id = doc_id — one embedding per doc, the usual
    // at-rest layout), so ranks fuse in one id space.
    "search_rrf" -> ((s, d) => {
      val one = Window.partitionBy(pmod(col("doc_id"), lit(1)))
      val lex = bm25Scored(s, d)
        .orderBy(desc("score"), col("doc_id")).limit(20)
        .withColumn("lex_rank", row_number().over(
          one.orderBy(desc("score"), col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("lex_rank"))
      val q = embeddings(s, d).filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      val vec = Similarity.topK(embeddings(s, d), "vec_id", "embedding",
          q, 20)
        .select(col("vec_id").as("doc_id"), col("score"))
        .withColumn("vec_rank", row_number().over(
          one.orderBy(desc("score"), col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("vec_rank"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(expr("1000000000 DIV (60 + lex_rank)"), lit(0L)) +
           coalesce(expr("1000000000 DIV (60 + vec_rank)"), lit(0L)))
            .as("rrf"),
          col("lex_rank"), col("vec_rank"))
        .orderBy(desc("rrf"), col("doc_id")).limit(10)
    }),

    // 7-day rolling distinct active users per observed day. Sliding
    // distinct-count doesn't fit a window frame (no DISTINCT in
    // frames), so each (day, user) contributes itself to the 7 days
    // it is visible from — explode of a 7-element sequence, then one
    // keyed distinct aggregate; days never observed are dropped.
    "events_rolling_dau" -> ((s, d) => {
      // two consumers (observed-day set + the 7-day explode):
      // checkpoint the distinct (day, user) table — one events scan
      val du = events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
        .localCheckpoint(false)
      val days = du.select(col("day").as("as_of")).distinct()
      du.select(col("user_id"),
          explode(sequence(col("day"), date_add(col("day"), 6)))
            .as("as_of"))
        .join(days, "as_of")
        .groupBy("as_of").agg(countDistinct(col("user_id")).as("dau7"))
    }),

    // CUSUM change-point flags over the per-type daily event series —
    // the drift monitor a pipeline runs over its telemetry. All
    // integer arithmetic: the deviation from the per-type mean is
    // scaled by n_days (dev = n*n_days - total, i.e. n_days*(n-mean))
    // so no division ever happens; the running sum is a per-type
    // window (partitioned — never a global sort), and the per-type
    // totals join back via broadcast (|event_type| is a handful).
    "events_cusum" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val tot = daily.groupBy("event_type")
        .agg(sum(col("n")).as("total"), count(lit(1)).as("n_days"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wr = Window.partitionBy("event_type")
        .orderBy(abs(col("cusum")).desc, col("day"))
      daily.join(broadcast(tot), Seq("event_type"))
        .withColumn("cusum",
          sum(col("n") * col("n_days") - col("total")).over(w))
        // flag the 3 most PROMINENT change points per type (largest
        // |cusum|, earliest day on ties) — rank-based, so the alarm
        // stays discriminating at every scale, unlike an absolute
        // threshold that relative noise shrinks away from as counts
        // grow. Same event_type exchange as the running sum.
        .withColumn("flag",
          row_number().over(wr) <= 3)
        .select("event_type", "day", "n", "cusum", "flag")
    }),

    // Count-Min frequency estimates for the exact top-10 tokens: the
    // d*w-counter sketch is built in one pass (corpus-size-independent
    // summary), estimates probe it with the same md5-derived double
    // hashing — deterministic, so the DuckDB oracle rebuilds the
    // sketch bit-for-bit and the estimates hash-match exactly.
    // CMS guarantees est >= true; w=2048 keeps the overcount under
    // eps*N ≈ N/1000 here.
    "approx_freq_cms" -> ((s, d) => {
      val tok = documents(s, d)
        .select(explode(Dedup.tokens(col("text"))).as("t"))
      val sk = CountMin.sketch(tok, "t", d = 4, w = 2048)
      val top = tok.groupBy("t").agg(count(lit(1)).as("true_cnt"))
        .orderBy(desc("true_cnt"), col("t")).limit(10)
      CountMin.estimate(sk, top.select("t"), "t", d = 4, w = 2048)
        .join(top, "t")
        .select(col("t"), col("true_cnt"), col("est"))
    }),

    // SELF-JOIN-SIZE / F₂-moment estimation — the AMS "tug-of-war"
    // classic (Alon–Matias–Szegedy '96) an optimizer or skew monitor
    // uses to size Σ_k f(k)² without a per-key aggregate: a d×w
    // COUNT-SKETCH over the join key (md5-derived bucket AND ±1
    // sign), per-row estimate Σ_c cell², final estimate the exact
    // MEDIAN of d=5 rows. Unlike a CMS inner product — whose
    // overcount is ε·N² collision mass that swamps the signal
    // whenever distinct keys ≫ w (measured 367× over on a PK–FK key
    // at sf1.0) — the signed estimate is UNBIASED with variance
    // 2F₂²/w: ~2% at w=4096 at ANY scale. Each sketch is ≤ d·w
    // counters regardless of table size; one partial-agg'd scan, no
    // self-join anywhere. Deterministic hashing/signs → bit-exact
    // oracle replay; squares DECIMAL-lifted; err_bp self-reports the
    // estimate quality in basis points.
    "approx_f2_ams" -> ((s, d) => {
      val wid = 4096
      val cells = lineitem(s, d)
        .select(col("l_suppkey").cast("string").as("k"))
        .select(
          conv(substring(md5(col("k")), 1, 8), 16, 10).cast("long")
            .as("h1"),
          conv(substring(md5(col("k")), 9, 8), 16, 10).cast("long")
            .as("h2"),
          conv(substring(md5(col("k")), 17, 8), 16, 10).cast("long")
            .as("h3"))
        .select(explode(sequence(lit(0), lit(4))).as("r"), col("h1"),
          col("h2"), col("h3"))
        .select(col("r"),
          pmod(pmod(col("h1") + col("r") * col("h2"),
            lit(Dedup.MinhashPrime)), lit(wid)).as("c"),
          (pmod(pmod(col("h3") + col("r") * col("h1"),
            lit(Dedup.MinhashPrime)), lit(2)) * 2 - 1).as("s"))
        .groupBy("r", "c").agg(sum(col("s")).as("cell"))
      val rowEst = cells.groupBy("r")
        .agg(sum(expr("CAST(cell AS DECIMAL(38,0)) * cell")).as("f2r"))
      // exact median of 5: the 3rd value in (f2r, r) order — r breaks
      // the (astronomically unlikely) equal-estimate tie the same way
      // on both engines; pmod(r,1) keeps the 5-row window's constant
      // partition key alive under EliminateWindowPartitions (the
      // PlanShapeSpec battery-wide no-unpartitioned-window guard)
      val est = rowEst
        .select(col("f2r"), row_number().over(
          Window.partitionBy(pmod(col("r"), lit(1)))
            .orderBy(col("f2r"), col("r"))).as("rn"))
        .filter(col("rn") === 3)
        .select(col("f2r").cast("long").as("est_f2"))
      val exact = lineitem(s, d).groupBy("l_suppkey")
        .agg(count(lit(1)).as("f"))
        .agg(count(lit(1)).as("n_keys"),
          sum(expr("CAST(f AS DECIMAL(38,0)) * f")).cast("long")
            .as("exact_f2"))
      exact.crossJoin(est)
        .select(col("n_keys"), col("exact_f2"), col("est_f2"),
          expr("abs(est_f2 - exact_f2) * 10000 DIV exact_f2")
            .as("err_bp"))
    }),

    // Fixed-SIZE deterministic reservoir per stratum: exactly 5 docs
    // per lang, chosen by smallest md5 of a salted key — the
    // hash-order makes "random" membership reproducible cross-engine
    // and re-runnable (same corpus -> same sample), unlike rate-based
    // sampling which only bounds the EXPECTED size. One window per
    // stratum over skinny rows.
    "sample_reservoir" -> ((s, d) => {
      val w = Window.partitionBy("lang").orderBy(
        md5(concat(lit("graftr"), col("doc_id").cast("string"))),
        col("doc_id"))
      documents(s, d)
        .select(col("doc_id"), col("lang"), row_number().over(w).as("rn"))
        .filter(col("rn") <= 5)
    }),

    // Per-type percentile winsorization (outlier clamping): p05/p95
    // from ext/ExactQuantiles.groupedPercentiles — bounded passes, not
    // Spark's grouped `percentile` whose per-group buffer holds the
    // group's full value multiset (a hot event type at 100 TB is an
    // executor-memory wall) — ROUNDED 6dp on both engines before the
    // clamp (the raw interpolation is merge-order sensitive in the
    // last bits), then one broadcast join back — stats side is
    // |event_type| rows at any scale.
    "events_winsorize" -> ((s, d) => {
      val pct = graft.ext.ExactQuantiles.groupedPercentiles(
          events(s, d), "event_type", "value", Seq(0.05, 0.95))
        .select(col("event_type"), round(col("p0"), 6).as("lo"),
          round(col("p1"), 6).as("hi"))
      events(s, d).join(broadcast(pct), "event_type")
        .select(col("event_id"), col("event_type"),
          round(greatest(least(col("value"), col("hi")), col("lo")), 6)
            .as("value_w"))
    }),

    // Robust (median/MAD) anomaly flags — the outlier-resistant
    // companion to events_anomaly's 3-sigma rule, whose mean/stddev an
    // adversarial heavy tail can drag until real outliers pass. Median
    // and MAD come from ext/ExactQuantiles.groupedPercentiles (bounded
    // passes, never the full-multiset percentile buffer); both are
    // rounded 6dp before the threshold compare, stats sides broadcast
    // — |event_type| rows at any scale. 4.4478 = 3 x 1.4826 (the
    // normal-consistency constant), a decimal literal both engines
    // parse to the same double.
    "events_anomaly_mad" -> ((s, d) => {
      val ev = events(s, d)
      val med = graft.ext.ExactQuantiles.groupedPercentiles(
          ev, "event_type", "value", Seq(0.5))
        .select(col("event_type"), round(col("p0"), 6).as("med"))
      val dev = ev.join(broadcast(med), "event_type")
        .select(col("event_type"), abs(col("value") - col("med"))
          .as("adev"))
      val mad = graft.ext.ExactQuantiles.groupedPercentiles(
          dev, "event_type", "adev", Seq(0.5))
        .select(col("event_type"), round(col("p0"), 6).as("mad"))
      ev.join(broadcast(med), "event_type")
        .join(broadcast(mad), "event_type")
        .filter(col("value") > col("med") + lit(4.4478) * col("mad"))
        .select(col("event_id"), col("event_type"), col("value"))
    }),

    // Deterministic stratified sampling: per-lang keep rates, hash
    // bucket on doc_id — map-side filter, shuffle-free, reproducible.
    "sample_stratified" -> ((s, d) => {
      val pct = when(col("lang") === "en", lit(20))
        .when(col("lang") === "de", lit(50)).otherwise(lit(80))
      documents(s, d)
        .filter(Sampling.stratifiedKeep(col("doc_id"), "graft", pct))
        .select("doc_id", "lang", "source")
    }),

    // Domain-level curation (C4 blocklists / RefinedWeb per-domain
    // heuristics): quality is a property of the SOURCE, not just the
    // document — a domain whose pages are mutual near-copies or whose
    // length profile is degenerate gets dropped wholesale. One
    // two-level aggregate computes per-source stats (dup counts via
    // the 128-bit two-seed fingerprint policy of dedup_exact — skinny
    // shuffle keys; the oracle's distinct-md5 induces the identical
    // partition), the verdict broadcasts back onto docs: no second
    // scan of the corpus, no shuffle of document text. Thresholds are
    // integer-exact cross-multiplications and RELATIVE to the corpus
    // (a source is dup-bad iff its dup ratio exceeds 1.25x the
    // corpus-wide ratio) — no division anywhere in the hash path, and
    // the gate stays discriminating at every scale because a source is
    // judged against its peers, not an absolute constant that global
    // dup density drifts past.
    "curate_domains" -> ((s, d) => {
      val docs = documents(s, d)
      val tsKey = concat_ws(" ",
        array_sort(array_distinct(Dedup.tokens(col("text")))))
      val stats = docs
        .select(col("source"), col("n_chars"),
          xxhash64(tsKey).as("fa"), xxhash64(lit(42L), tsKey).as("fb"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          (count(lit(1)) - countDistinct(col("fa"), col("fb")))
            .as("n_dups"),
          sum(col("n_chars")).as("sum_chars"))
      val corpus = stats.agg(sum(col("n_docs")).as("t_docs"),
        sum(col("n_dups")).as("t_dups"))
      val gated = stats.crossJoin(broadcast(corpus))
        .withColumn("src_keep",
          // n_dups/n_docs <= 1.25 * t_dups/t_docs, cross-multiplied
          col("n_dups") * col("t_docs") * 4 <=
            col("t_dups") * col("n_docs") * 5 &&
            col("sum_chars") >= col("n_docs") * 260 &&
            col("sum_chars") <= col("n_docs") * 340)
      docs.join(broadcast(gated), Seq("source"))
        .select(col("doc_id"), col("source"), col("n_docs"),
          col("n_dups"), col("src_keep"))
    }),

    // Composed quality gate (the shape of a real corpus-cleaning
    // pass): token bounds + repetition cap + quality floor + language
    // tag. Deliberately NOT map-side HOF filters: Catalyst substitutes
    // projected aliases into pushed-down filters, re-running the
    // interpreted array expressions per reference (measured 15s vs
    // ~1s here at sf0.1). Instead: one explode, codegen'd hash aggs
    // for every signal, arithmetic + filter AFTER the aggregation
    // barrier — all whole-stage codegen, 2 shuffles by doc_id.
    "pipeline_filter" -> ((s, d) => {
      def marks(xs: Seq[String]) =
        sum(when(col("t").isin(xs: _*), 1L).otherwise(0L))
      val tok = documents(s, d)
        .select(col("doc_id"),
          posexplode(Dedup.tokens(col("text"))).as(Seq("pos", "t")))
      val stops = Seq("the", "a", "of", "and", "in", "to", "is", "on")
      val perDoc = tok.groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("t")).as("n_uniq"),
        marks(stops).as("n_stop"),
        marks(Seq("the", "a", "big", "small", "fast", "slow")).as("s_eng"),
        marks(Seq("query", "table", "join", "sort", "merge", "scan"))
          .as("s_db"),
        marks(Seq("spark", "vector", "stream", "batch", "data")).as("s_ml"),
        // Gopher-gate signals in aggregate form (same values as the
        // array formulation in text_quality — identical token stream)
        sum(length(col("t"))).as("sum_len"),
        sum(when(col("t").contains("#") || col("t").contains("..."), 1L)
          .otherwise(0L)).as("n_sym"),
        sum(when(col("t").rlike("[a-z]"), 1L).otherwise(0L)).as("n_alpha"),
        countDistinct(when(col("t").isin(stops: _*), col("t")))
          .as("n_stop_d"))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val bgStats = tok.withColumn("prev", lag("t", 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("doc_id"),
          concat_ws(" ", col("prev"), col("t")).as("g"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_g"), countDistinct(col("g")).as("n_gd"))
      val quality =
        least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.4 +
          col("n_uniq").cast("double") /
            greatest(col("n_tokens"), lit(1L)).cast("double") * 0.3 +
          (lit(1.0) - when(col("n_tokens") === 0, lit(0.0)).otherwise(
            col("n_stop").cast("double") / col("n_tokens"))) * 0.3
      val dup2 = when(coalesce(col("n_g"), lit(0L)) === 0, lit(0.0))
        .otherwise(lit(1.0) -
          col("n_gd").cast("double") / col("n_g"))
      // Gopher composite from the aggregate signals — n_tokens >= 1
      // always (posexplode of the never-empty token array), so the
      // ratios need no zero guards here
      val mwl = col("sum_len").cast("double") / col("n_tokens")
      val gq = (when(mwl >= 3.0 && mwl <= 10.0, 1.0).otherwise(0.0) +
        when(col("n_sym").cast("double") / col("n_tokens") <= 0.1, 1.0)
          .otherwise(0.0) +
        when(col("n_alpha").cast("double") / col("n_tokens") >= 0.8, 1.0)
          .otherwise(0.0) +
        when(col("n_stop_d") >= 2, 1.0).otherwise(0.0)) / 4
      perDoc.join(bgStats, Seq("doc_id"), "left")
        .withColumn("quality", quality)
        .withColumn("dup2", dup2)
        .withColumn("gq", gq)
        .filter(col("n_tokens").between(20, 5000) &&
          col("dup2") <= 0.1 && col("quality") >= 0.62 &&
          col("gq") >= 0.75)
        .select(col("doc_id"),
          when(col("s_eng") >= col("s_db") && col("s_eng") >= col("s_ml"),
            lit("eng"))
            .when(col("s_db") >= col("s_ml"), lit("db"))
            .otherwise(lit("ml")).as("pred_lang"),
          col("quality"), col("gq"))
    }),

    // Benchmark-contamination check: fraction of each eval doc's
    // 3-gram shingles that appear anywhere in the train split — the
    // decontamination pass every training corpus needs. Scalable
    // shape: shingles as rows, train side reduced to DISTINCT shingle
    // keys, one semi join + two hash aggs; no arrays cross a shuffle.
    "contamination_check" -> ((s, d) => {
      val docs = documents(s, d)
      val trainSh = Dedup.shingleRows(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
        .select("shingle").distinct()
      val evalSh = Dedup.shingleRows(
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
        .localCheckpoint(false) // two consumers: totals + semi join
      val contam = evalSh.join(trainSh, Seq("shingle"), "left_semi")
        .groupBy("id").agg(count(lit(1)).as("n_contam"))
      evalSh.groupBy("id").agg(count(lit(1)).as("n_shingles"))
        .join(contam, Seq("id"), "left")
        .select(col("id").as("doc_id"), col("n_shingles"),
          coalesce(col("n_contam"), lit(0L)).as("n_contam"),
          (coalesce(col("n_contam"), lit(0L)).cast("double") /
            col("n_shingles")).as("contam_frac"))
    }),

    // Sequence packing: assign docs to fixed-token-budget training
    // batches via an exclusive running token total — the shared
    // ext/Packing.assign lineage (sharded windows; see its doc for
    // the 100 TB rationale).
    "pack_sequences" -> ((s, d) =>
      graft.ext.Packing.assign(documents(s, d))),

    // Probability-proportional-to-size SYSTEMATIC sampling (the survey
    // -sampling / data-pruning classic): k=100 boundary points stride
    // the cumulative token-weight axis and each doc is drawn with
    // multiplicity = boundaries falling inside its weight interval —
    // exact integers end to end (f(x) = min(k, ceil(x·k/W)) as
    // (x*k + W - 1) DIV W; Σ multiplicities = k by construction).
    // The cumulative weight is a DISTRIBUTED exact prefix sum: docs
    // hash into 32 ordered shards, per-shard subtotals (32 rows)
    // broadcast back as offsets, and the window only ever runs WITHIN
    // a shard — no global-order window at any scale.
    "sample_pps" -> ((s, d) => {
      val k = 100
      val base = documents(s, d)
        .select(col("doc_id"),
          size(Dedup.tokens(col("text"))).cast("long").as("w"),
          md5(concat(lit("pps"), col("doc_id").cast("string")))
            .as("draw"))
        .withColumn("shard", Sampling.hashBucket(col("doc_id"),
          "ppsshard", 32))
      val sub = base.groupBy("shard").agg(sum(col("w")).as("sw"))
      val offs = sub
        .withColumn("off", coalesce(sum(col("sw")).over(
          // 32-row shard table; non-foldable constant partition key (pmod(col,1); a bare
          // literal is stripped by EliminateWindowPartitions)
          // avoids the spurious single-partition WindowExec warning
          Window.partitionBy(pmod(col("shard"), lit(1))).orderBy("shard")
            .rowsBetween(
            Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("shard"), col("off"))
      val tot = sub.agg(sum(col("sw")).as("bigw"))
      val wIn = Window.partitionBy("shard").orderBy("draw", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base
        .withColumn("cumIn", sum(col("w")).over(wIn))
        .join(broadcast(offs), "shard")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("w"),
          (col("off") + col("cumIn")).as("cum"), col("bigw"))
        .select(col("doc_id"), col("w"),
          (least(lit(k.toLong), expr(s"(cum * $k + bigw - 1) DIV bigw"))
            - least(lit(k.toLong),
              expr(s"((cum - w) * $k + bigw - 1) DIV bigw")))
            .as("mult"))
        .filter(col("mult") > 0)
    }),

    // Packing-efficiency report over pack_sequences' bins: per-lang
    // bin counts, token fill, and waste against the 512-token budget
    // — the utilization number that decides whether the packer needs
    // a smarter bin assignment. Same lineage as pack_sequences, then
    // two domain-bounded aggregates (bins, then langs); fill ratio in
    // exact integer basis points. The LAST bin of each (lang, shard)
    // stream is open (not yet full) — its slack is real capacity, not
    // waste, so it is counted separately.
    "pack_report" -> ((s, d) => {
      val packed = graft.ext.Packing.assign(documents(s, d))
        .select("lang", "shard", "n_tok", "pack_id")
      val bins = packed.groupBy("lang", "shard", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("fill"))
      val lastBin = bins.groupBy("lang", "shard")
        .agg(max(col("pack_id")).as("last_id"))
      bins.join(broadcast(lastBin), Seq("lang", "shard"))
        .withColumn("open", col("pack_id") === col("last_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_bins"),
          sum(when(col("open"), 1L).otherwise(0L)).as("open_bins"),
          sum(col("n_docs")).as("n_docs"),
          sum(col("fill")).as("tok_total"),
          sum(when(!col("open"), col("fill")).otherwise(0L))
            .as("tok_closed"))
        .select(col("lang"), col("n_bins"), col("open_bins"),
          col("n_docs"), col("tok_total"),
          // every-bin-still-open (tiny shards) → no closed capacity →
          // NULL, not an ANSI divide-by-zero
          expr("""CASE WHEN n_bins > open_bins
              THEN tok_closed * 10000 DIV ((n_bins - open_bins) * 512)
              END""").as("closed_fill_bp"))
    }),

    // The corpus health report — per-lang / per-source / overall
    // rollup of curation signals in one GROUPING SETS pass over a
    // lineage that already carries the exact-dup flag and the Gopher
    // composite. Every aggregated value is order-independent (counts,
    // integer token sums, and gq sums — gq is quarter-valued, so
    // double addition is exact), making the whole report
    // deterministic with no decimal casts.
    "corpus_report" -> ((s, d) => {
      val docs = documents(s, d)
      val nt = TextAnalysis.normalized(col("text"))
      val wd = Window.partitionBy("fa", "fb")
      docs
        .select(col("doc_id"), col("lang"), col("source"),
          size(Dedup.tokens(col("text"))).as("n_tok"),
          TextAnalysis.gopherScore(col("text")).as("gq"),
          xxhash64(nt).as("fa"), xxhash64(lit(42L), nt).as("fb"))
        .withColumn("is_dup",
          (col("doc_id") =!= min("doc_id").over(wd)).cast("long"))
        .createOrReplaceTempView("cr_docs")
      s.sql("""SELECT lang, source, COUNT(*) AS n_docs,
                 SUM(CAST(n_tok AS BIGINT)) AS n_tokens,
                 SUM(gq) / COUNT(*) AS avg_gq,
                 SUM(is_dup) AS n_dups
               FROM cr_docs
               GROUP BY GROUPING SETS ((lang), (source), (lang, source),
                 ())""")
    }),

    // The END-TO-END curation pipeline in one query — what a corpus
    // run actually executes: exact-dedup survivor selection → Gopher
    // quality gate → train-split decontamination against the eval
    // shingle set → token-budget sequence packing. Every stage is the
    // already-proven operator (dedup_exact / text_quality /
    // contamination_check / pack_sequences) composed on one lineage:
    // the window dedup shuffles skinny fingerprints, the gates are
    // map-side, the decontam semi-join ships shingle keys only, and
    // the final pack window runs over the (much smaller) curated set.
    "pipeline_curate" -> ((s, d) => {
      val docs = documents(s, d)
      val nt = TextAnalysis.normalized(col("text"))
      // 1. exact near-identical removal: min doc_id per content hash
      val wd = Window.partitionBy("fa", "fb")
      val survivors = docs
        .select(col("doc_id"), xxhash64(nt).as("fa"),
          xxhash64(lit(42L), nt).as("fb"))
        .withColumn("keep", min("doc_id").over(wd))
        .filter(col("doc_id") === col("keep")).select("doc_id")
      // 2. train split + Gopher gate (map-side)
      val gated = docs.join(survivors, "doc_id")
        .filter(col("doc_id") % 10 =!= 0 &&
          TextAnalysis.gopherScore(col("text")) >= 0.75)
        .localCheckpoint(false) // three consumers below
      // 3. decontamination: drop train docs sharing > 20% of their
      // 3-gram shingles with the eval split
      val evalSh = Dedup.shingleRows(
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
        .select("shingle").distinct()
      val trainSh = Dedup.shingleRows(gated, "doc_id", "text")
        .localCheckpoint(false) // two consumers: totals + semi join
      val nC = trainSh.join(evalSh, Seq("shingle"), "left_semi")
        .groupBy("id").agg(count(lit(1)).as("n_c"))
      val bad = trainSh.groupBy("id").agg(count(lit(1)).as("n_s"))
        .join(nC, Seq("id"), "left")
        .filter(coalesce(col("n_c"), lit(0L)).cast("double") /
          col("n_s") > 0.2)
        .select(col("id").as("doc_id"))
      val clean = gated.join(bad, Seq("doc_id"), "left_anti")
      // 4. pack into fixed-token-budget batches (shared Packing
      // lineage)
      graft.ext.Packing.assign(clean)
        .select("doc_id", "lang", "n_tok", "pack_id")
    }),

    // PageRank over a deterministic synthetic doc graph (each doc
    // links to (2i+1)%N and (3i+7)%N — same construction in the
    // oracle, like synthPii). Exercises operators/PageRank: 10
    // power-method rounds, exact-decimal contribution sums. The
    // output is the SCALE-FREE rank·N (1.0 = uniform): raw ranks
    // shrink as 1/N, so a fixed 6dp rounding loses its absorption
    // margin as the corpus grows (the derived sf1.0's sparse doc_id
    // space pushed ranks to ~1e-8 and the two engines' ~1e-15
    // RELATIVE double drift flipped 6dp digits); rank·N keeps values
    // O(1) at any corpus size, so the same relative drift stays ~1e-15
    // absolute — far inside the rounding.
    "graph_pagerank" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"))
      val n = docs.agg(max("doc_id")).head().getLong(0) + 1
      val e1 = docs.select(col("doc_id").as("src"),
        ((col("doc_id") * 2 + 1) % n).as("dst"))
      val e2 = docs.select(col("doc_id").as("src"),
        ((col("doc_id") * 3 + 7) % n).as("dst"))
      // normalize by the GRAPH's node count (= ranks' row count; the
      // final state is checkpointed, so count() re-reads, not
      // re-runs), not the id-space modulus n — they differ when
      // doc_ids are sparse
      val ranked = graft.operators.PageRank.ranks(e1.union(e2), 10, 0.85)
      val nNodes = ranked.count()
      ranked.select(col("id").as("doc_id"),
        round(col("rank") * nNodes, 6).as("rank_xn"))
    }),

    // Degree distribution over the same synthetic doc graph — the
    // first diagnostic of any web/link corpus (is it scale-free? is
    // there a supernode that will melt a join?): per-node in/out
    // degree via two domain-bounded aggregates, then the histogram
    // over (in_deg, out_deg) pairs. Every step is a hash aggregate on
    // skinny keys; the histogram's cardinality is bounded by the
    // distinct degree pairs, never the node count.
    "graph_degree_dist" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"))
      val n = docs.agg(max("doc_id")).head().getLong(0) + 1
      val e1 = docs.select(col("doc_id").as("src"),
        ((col("doc_id") * 2 + 1) % n).as("dst"))
      val edges = e1.union(docs.select(col("doc_id").as("src"),
        ((col("doc_id") * 3 + 7) % n).as("dst")))
      val outDeg = edges.groupBy("src").agg(count(lit(1)).as("out_deg"))
      val inDeg = edges.groupBy("dst").agg(count(lit(1)).as("in_deg"))
      docs.join(outDeg, col("doc_id") === col("src"), "left")
        .join(inDeg, col("doc_id") === col("dst"), "left")
        .select(col("doc_id"),
          coalesce(col("out_deg"), lit(0L)).as("od"),
          coalesce(col("in_deg"), lit(0L)).as("id2"))
        .groupBy(col("od").as("out_deg"), col("id2").as("in_deg"))
        .agg(count(lit(1)).as("n_nodes"))
    }),

    // Common-neighbor link prediction (operators/LinkPredict.scala)
    // over the same doc graph: strongest non-adjacent distance-2
    // pairs, hub centers (deg > 64) excluded — the supernode guard
    // that keeps the wedge join O(maxDeg²) per center at any scale.
    // Top-100 by (cn desc, u, v) runs as TakeOrderedAndProject.
    "graph_link_predict" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"))
      val n = docs.agg(max("doc_id")).head().getLong(0) + 1
      val e = docs.select(col("doc_id").as("id_a"),
          ((col("doc_id") * 2 + 1) % n).as("id_b"))
        .union(docs.select(col("doc_id").as("id_a"),
          ((col("doc_id") * 3 + 7) % n).as("id_b")))
      graft.operators.LinkPredict.commonNeighbors(e, 64, 2, 100)
    }),

    // k-core decomposition (operators/KCore.scala) over the same
    // undirected doc graph — the standard "dense cohesive subgraph"
    // pass (spam/link-farm detection, graph sparsification before
    // embedding). 8 peeling rounds, k=3, fixed-round semantics like
    // graph_bfs/graph_label_prop so the oracle unrolls identically —
    // INCLUDING the final survivor-internal degree recompute (r12):
    // the derived sf1.0 graph does NOT converge inside 8 rounds, so
    // the recompute is live there and the oracle replays it (the
    // sf0.001-0.1 graphs converge, where it is the identity —
    // KCoreSpec pins both regimes).
    "graph_kcore" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"))
      val n = docs.agg(max("doc_id")).head().getLong(0) + 1
      val e0 = docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 2 + 1) % n).as("dst"))
        .union(docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 3 + 7) % n).as("dst")))
      val sym = e0
        .union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
      graft.operators.KCore.core(sym, 3, 8)
        .select(col("id").as("doc_id"), col("deg"))
    }),

    // Poisson bootstrap (Chamandy et al., Google 2012) — THE
    // distributed bootstrap: classical resampling needs n draws from
    // a known global n (a coordination point); Poisson(1)
    // multiplicities are row-local, so every replicate is one
    // map-side projection + one aggregate at any scale. Multiplicity
    // comes from a hash-derived uniform (md5 60-bit / 2^60, one IEEE
    // divide) against Poisson(1) CDF literal cutoffs spelled
    // identically in both engines, capped at 4 (P[X>4] ≈ 0.37%);
    // everything aggregated is integer (doc multiplicities × n_chars),
    // so replicate statistics are exact. Two replicates ride one
    // explode — per (replicate, lang) resampled doc and char totals,
    // the spread across replicates being the CI machinery.
    "sample_bootstrap" -> ((s, d) => {
      val u = conv(substring(md5(concat(lit("boot"), col("rep"),
        lit("|"), col("doc_id"))), 1, 15), 16, 10).cast("long")
        .cast("double") / lit(1152921504606846976.0)
      documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          explode(array(lit(0), lit(1))).as("rep"))
        .withColumn("mult",
          when(u < 0.36787944117144233, 0L)
            .when(u < 0.7357588823428847, 1L)
            .when(u < 0.9196986029286058, 2L)
            .when(u < 0.9810118431238462, 3L)
            .otherwise(4L))
        .groupBy("rep", "lang")
        .agg(sum(col("mult")).as("n_resampled"),
          sum(col("mult") * col("n_chars")).as("chars_resampled"))
    }),

    // DSIR — Data Selection via Importance Resampling (Xie et al.
    // 2023, ext/Dsir.scala): pick the 100 raw docs whose hashed-
    // unigram distribution best matches the src0 target split.
    // Feature table is ONE bounded groupBy(bucket) (≤4096 rows at any
    // corpus size, totals folded out of it — no extra pass); scoring
    // broadcasts it; log2s are integer bit_lengths so weights are
    // exact BIGINT sums (docs/HASH_NUMERICS.md); top-k is
    // TakeOrderedAndProject (bounded heaps, never a global sort).
    "sample_dsir" -> ((s, d) =>
      graft.ext.Dsir.selectTopK(documents(s, d),
        col("source") === "src0", 4096, 100)),

    // Quality-weighted importance sampling: keep probability =
    // quality * 0.5, so high-quality docs survive preferentially —
    // one deterministic map-side predicate (oracle re-derives exact
    // membership).
    "sample_weighted" -> ((s, d) =>
      documents(s, d)
        .filter(graft.ext.Sampling.weightedKeep(col("doc_id"), "graftw",
          TextAnalysis.qualityScore(col("text")), 0.5))
        .select("doc_id", "lang", "source")),

    // Greedy k-center coreset selection (ext/Coreset.scala) over the
    // embeddings table: Gonzalez farthest-point traversal, k=8 — the
    // DIVERSITY selection next to sim_mmr's relevance/novelty ranking
    // and sample_dsir's distribution matching. Exact-replay argument
    // (three-dot d² identity, unique argmax order, explicit
    // selected-id exclusion) lives on the ext object.
    "sample_kcenter" -> ((s, d) =>
      graft.ext.Coreset.kCenter(
        embeddings(s, d), "vec_id", "embedding", 8)
        .select(col("sel_rank"), col("id").as("vec_id"), col("d2"))),

    // K-center CLUSTERING report over the same traversal: every
    // point assigned to its nearest selected center (strict-< argmin
    // folds keep the lowest rank on ties), per-center membership +
    // squared coverage radius — the certificate that the k selected
    // points cover the embedding space (ext/Coreset.assignReport).
    "sim_kcenter_assign" -> ((s, d) =>
      graft.ext.Coreset.assignReport(
        embeddings(s, d), "vec_id", "embedding", 8)),

    // Triangle enumeration over the same synthetic doc graph as
    // graph_pagerank — degree-oriented wedge join (operators/
    // Triangles), each triangle exactly once, O(m^1.5) bound.
    "graph_triangles" -> ((s, d) => {
      val docs = documents(s, d).select("doc_id")
      val n = docs.agg(max("doc_id")).head().getLong(0) + 1
      val e1 = docs.select(col("doc_id").as("id_a"),
        ((col("doc_id") * 2 + 1) % n).as("id_b"))
      val e2 = docs.select(col("doc_id").as("id_a"),
        ((col("doc_id") * 3 + 7) % n).as("id_b"))
      graft.operators.Triangles.triangles(e1.union(e2))
    }),

    // Label-propagation community detection over the same synthetic
    // doc graph — synchronous rounds + smallest-label tie-break make
    // it a pure function of the graph (operators/LabelPropagation),
    // so the unrolled-CTE oracle replays it exactly. 5 rounds.
    "graph_label_prop" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"))
      val n = docs.agg(max("doc_id")).head().getLong(0) + 1
      val e1 = docs.select(col("doc_id").as("src"),
        ((col("doc_id") * 2 + 1) % n).as("dst"))
      val e2 = docs.select(col("doc_id").as("src"),
        ((col("doc_id") * 3 + 7) % n).as("dst"))
      graft.operators.LabelPropagation.propagate(e1.union(e2), 5)
        .select(col("id").as("doc_id"), col("label"))
    }),

    // Single-source BFS hop counts (depth ≤ 5) from doc 0 over the
    // same graph — fixed-depth frontier relaxation, min-aggregate
    // per round (operators/Bfs).
    "graph_bfs" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"))
      val n = docs.agg(max("doc_id")).head().getLong(0) + 1
      val e1 = docs.select(col("doc_id").as("src"),
        ((col("doc_id") * 2 + 1) % n).as("dst"))
      val e2 = docs.select(col("doc_id").as("src"),
        ((col("doc_id") * 3 + 7) % n).as("dst"))
      graft.operators.Bfs.hops(e1.union(e2), 0L, 5)
        .select(col("id").as("doc_id"), col("dist"))
    }),

    // RAG/pretraining chunking: overlapping token windows (64-token
    // chunks, stride 48 → 16-token overlap) — one map-side projection
    // per chunk row (posexplode over chunk starts + array slice), NO
    // shuffle, no document-sized arrays past the generator.
    "text_chunk" -> ((s, d) => {
      val chunkTok = 64
      val stride = 48
      val toks = Dedup.tokens(col("text"))
      documents(s, d)
        .select(col("doc_id"), toks.as("tk"))
        .select(col("doc_id"), col("tk"),
          posexplode(sequence(lit(0),
            greatest(size(col("tk")) - 1, lit(0)), lit(stride)))
            .as(Seq("chunk_idx", "start")))
        .select(col("doc_id"), col("chunk_idx"),
          slice(col("tk"), col("start") + 1, lit(chunkTok)).as("ctoks"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("ctoks")).as("n_tokens"),
          array_join(col("ctoks"), " ").as("chunk_text"))
    }),

    // --- multimodal (binary columns; decode is a marked stub) ---
    "mm_features" -> ((s, d) =>
      Multimodal.extractFeatures(
        documents(s, d).select(col("doc_id"),
          col("text").cast("binary").as("payload")),
        "doc_id", "payload").toDF()),

    "mm_frames" -> ((s, d) =>
      Multimodal.sampleFrames(
        documents(s, d).select(col("doc_id"),
          col("text").cast("binary").as("payload")),
        "doc_id", "payload", frameBytes = 64).toDF()),

    // REAL image-header decode, end to end: valid PNG (even doc_id)
    // and JPEG (odd) payloads are synthesized map-side with the dims
    // planted from doc_id, then `Multimodal.imageDecode` parses the
    // actual PNG IHDR / JPEG SOF bytes back behind the mapPartitions
    // codec seam. The oracle independently recomputes the planted
    // dims (and exact payload sizes), so any parser or construction
    // bug goes hash-red.
    "mm_dims" -> ((s, d) =>
      Multimodal.decodeWithCodec(
          documents(s, d).select(col("doc_id"),
            syntheticImagePayload.as("payload")),
          "doc_id", "payload", Multimodal.imageDecode)
        .toDF().select("doc_id", "n_bytes", "width", "height")),

    // Resize pass over the same REAL-header payloads: decode actual
    // dims, fit into a 256 box with exact integer arithmetic (the
    // pixel resample is the stub; the planning math and partitionwise
    // plumbing are real and oracle-checked).
    "mm_resize" -> ((s, d) =>
      Multimodal.resizeTo(
          documents(s, d).select(col("doc_id"),
            syntheticImagePayload.as("payload")),
          "doc_id", "payload", maxDim = 256)
        .toDF()),

    // REAL pixel resample, end to end: uncompressed gray8 rasters
    // (dims and every pixel planted from doc_id) are synthesized as
    // actual bytes with pure built-in expressions, then
    // Multimodal.resampleNearest decodes the payload, aspect-fits it
    // into an 8-px box, and nearest-neighbor samples the REAL pixels
    // behind the partition-wise codec seam. The output is a
    // position-weighted checksum of the resampled image that the
    // oracle replays from the planted pixel function with the same
    // integer arithmetic — any construction, decode, NN-mapping, or
    // row-order bug goes hash-red.
    "mm_resample" -> ((s, d) =>
      Multimodal.resampleNearest(
          graft.ext.ScanSpread.spread(documents(s, d))
            .select(col("doc_id"),
              syntheticGray8Payload.as("payload")),
          "doc_id", "payload", maxDim = 8)
        .toDF()),

    // IMAGE dedup as a hash-groupBy: each synthesized raster decodes
    // behind the codec seam, dHash fingerprints it (9x7 NN grid,
    // adjacent-brightness bits — invariant to uniform brightness
    // shifts, so the planted payloads' shared-gradient images collide
    // into real dup groups), and one skinny aggregate labels every
    // image with its group's canonical doc and size. No pair mining:
    // group count is bounded by distinct hashes, never n². The oracle
    // re-derives every bit from the planted pixel function in pure
    // integer SQL.
    "mm_dedup_phash" -> ((s, d) => {
      val ph = Multimodal.dHash(
        graft.ext.ScanSpread.spread(documents(s, d))
          .select(col("doc_id"),
            syntheticGray8Payload.as("payload")),
        "doc_id", "payload").toDF()
      val g = ph.groupBy("phash")
        .agg(min(col("doc_id")).as("canonical_doc"),
          count(lit(1)).as("n_same_hash"))
      ph.join(g, Seq("phash"))
        .select("doc_id", "phash", "canonical_doc", "n_same_hash")
    }),

    // The metric CDC exists to produce — content-addressed STORAGE
    // SAVINGS: per language, raw chunk chars vs distinct-chunk chars
    // (what a dedupe store would hold), savings in exact integer
    // micro-units. Two chunk-keyed aggregates over the same map-side
    // cdc_chunks pass; nothing pairwise anywhere.
    "dedup_cdc_savings" -> ((s, d) => {
      val ch = Dedup.cdcChunks(
        documents(s, d).select(col("doc_id"), col("lang"), col("text")),
        "doc_id", "text", carry = Seq("lang"))
        .localCheckpoint(false) // feeds the raw and distinct aggregates
      val tot = ch.groupBy("lang").agg(
        countDistinct("id").as("n_docs"),
        sum(length(col("chunk")).cast("long")).as("raw_chars"))
      val uniq = ch.select(col("lang"), col("chunk")).distinct()
        .groupBy("lang")
        .agg(sum(length(col("chunk")).cast("long")).as("stored_chars"))
      tot.join(uniq, "lang")
        .select(col("lang"), col("n_docs"), col("raw_chars"),
          col("stored_chars"),
          expr("(raw_chars - stored_chars) * 1000000 DIV raw_chars")
            .as("savings_micro"))
    }),

    // Image NEAR-dup mining — the Hamming-radius companion to
    // mm_dedup_phash's exact-hash groups: distinct dHash values band
    // into 3 pigeonhole chunks (19+19+18 bits of the 56-bit hash —
    // radius-2 complete: two flipped bits can dirty at most two
    // chunks), candidate hash pairs come only from shared
    // (band,chunk) buckets via the salted-guard bucketPairs, and the
    // exact popcount verifies 1 <= hamming <= 2 (0 = exact dup,
    // already mm_dedup_phash's job). Pairing runs on DISTINCT hashes
    // with group sizes carried alongside — the hash space is bounded,
    // so output and pair work stay O(|hashes|²-ish) at ANY corpus
    // size, never O(docs²) (doc-level pairs here would be group_a ×
    // group_b row blowups).
    "mm_dedup_phash_near" -> ((s, d) => {
      val hs = Multimodal.dHash(
          graft.ext.ScanSpread.spread(documents(s, d))
            .select(col("doc_id"),
              syntheticGray8Payload.as("payload")),
          "doc_id", "payload").toDF()
        .groupBy("phash").agg(count(lit(1)).as("nd"))
        .select(col("phash").as("id"), col("nd"))
        .localCheckpoint(false) // feeds banding + both verify joins
      val offs = Seq((0, 19), (19, 19), (38, 18))
      val banded = hs.select(col("id"),
        explode(array(offs.zipWithIndex.map { case ((o, wd), j) =>
          struct(lit(j).as("band"),
            shiftright(col("id"), o).bitwiseAND(lit((1L << wd) - 1))
              .as("bk"))
        }: _*)).as("x"))
        .select(col("id"), col("x.band").as("band"), col("x.bk").as("bk"))
      Dedup.bucketPairs(banded).distinct()
        .join(hs.select(col("id").as("id_a"), col("nd").as("docs_a")),
          "id_a")
        .join(hs.select(col("id").as("id_b"), col("nd").as("docs_b")),
          "id_b")
        .withColumn("hamming",
          Dedup.hamming64(col("id_a"), col("id_b")).cast("long"))
        .filter(col("hamming") >= 1 && col("hamming") <= 2)
        .select(col("id_a").as("phash_a"), col("id_b").as("phash_b"),
          col("hamming"), col("docs_a"), col("docs_b"))
    }),

    // The SAME image dedup over REAL COMPRESSED PNGs: each payload is
    // a genuine PNG (zlib-deflated IDAT, per-scanline filters cycling
    // through all five types) built map-side from the planted pixel
    // function, then dHash decodes it back through the full JDK-only
    // pipeline — chunk walk, Inflater, Sub/Up/Average/Paeth
    // unfiltering (ext/Multimodal.decodePngPixels). The oracle
    // replays the dHash bits from the PIXEL FUNCTION, never the
    // bytes, so any encode, inflate, or unfilter bug goes hash-red.
    "mm_dedup_phash_png" -> ((s, d) => {
      val ss = s
      import ss.implicits._
      val src = documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = (id % 24 + 4).toInt
          val h = (id % 16 + 4).toInt
          val px = Array.tabulate(w * h)(i =>
            ((id + (i / w) * 7 + (i % w) * 13) % 256).toByte)
          (id, Multimodal.encodePngGray(w, h, px))
        }).toDF("doc_id", "payload")
      val ph = Multimodal.dHash(src, "doc_id", "payload").toDF()
      val g = ph.groupBy("phash")
        .agg(min(col("doc_id")).as("canonical_doc"),
          count(lit(1)).as("n_same_hash"))
      ph.join(g, Seq("phash"))
        .select("doc_id", "phash", "canonical_doc", "n_same_hash")
    }),

    // Pixel resample over the same real compressed PNGs — the decode
    // path feeding resampleNearest is the full inflate+unfilter
    // pipeline; the checksum oracle replays the planted pixels.
    "mm_resample_png" -> ((s, d) => {
      val ss = s
      import ss.implicits._
      val src = documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = (id % 24 + 4).toInt
          val h = (id % 16 + 4).toInt
          val px = Array.tabulate(w * h)(i =>
            ((id + (i / w) * 7 + (i % w) * 13) % 256).toByte)
          (id, Multimodal.encodePngGray(w, h, px))
        }).toDF("doc_id", "payload")
      Multimodal.resampleNearest(src, "doc_id", "payload", maxDim = 8)
        .toDF()
    }),

    // BPE-style pretokenizer counting (mandate: "token counting —
    // whitespace + a BPE-ish regex"): a GPT-2-shaped alternation
    // (contraction suffixes | letter runs | digit runs | single other
    // char), ASCII classes only so Java regex and RE2 agree, no
    // lookahead (RE2 has none). Both are map-side codegen'd regexes —
    // one scan, no shuffle, pushdown-friendly.
    "text_tokens" -> ((s, d) =>
      documents(s, d).select(col("doc_id"),
          size(Dedup.tokens(col("text"))).as("n_ws"),
          size(regexp_extract_all(col("text"), lit(BpeIshPattern), lit(0)))
            .as("n_bpe"),
          length(col("text")).as("n_chars"))
        .withColumn("chars_per_tok",
          col("n_chars").cast("double") / col("n_bpe"))),

    // BPE vocabulary TRAINING (ext/BpeTrain): iterative pair-merge
    // learning over the top-K word frequencies — the corpus-sized
    // work is ONE partial-agg'd word count, collected once; every
    // merge round then runs on the driver over that vocab-bounded
    // dictionary (deterministic tie-breaks, no Spark job per round).
    // Oracle is a generated DuckDB CTE chain re-deriving the merge
    // table round-by-round.
    "text_bpe_train" -> ((s, d) =>
      graft.ext.BpeTrain.train(documents(s, d), "text",
        BpeTopWords, BpeMerges)),

    // The learned tokenizer APPLIED: each vocabulary word's subword
    // segmentation after the merge rounds — the final symbol table of
    // the same training loop. Real pipelines tokenize this way at
    // scale: segment the DISTINCT vocabulary once, then join documents
    // against it (never re-run merges per document).
    "text_bpe_segment" -> ((s, d) =>
      graft.ext.BpeTrain.segment(documents(s, d), "text",
        BpeTopWords, BpeMerges)),

    // Tokenize the FULL corpus vocabulary with the learned merges:
    // train on the top-K, replay the merge list over every distinct
    // word (OOV words degrade gracefully to whatever the merges
    // cover, like a production BPE encoder). Documents then tokenize
    // by joining this per-word table — merges never re-run per doc.
    "text_bpe_encode" -> ((s, d) =>
      graft.ext.BpeTrain.encode(documents(s, d), "text",
        BpeEncodeTrainWords, BpeMerges)),

    // Tokenizer FERTILITY — the standard tokenizer-quality metric
    // (mean tokens per word, frequency-weighted): high fertility means
    // the learned vocab fragments real text and inflates every
    // downstream token budget. One aggregate over the encode table
    // (which already replays the merges map-side per distinct word);
    // the ratio ships as integer milli-units — no float in the hash
    // path.
    "text_bpe_fertility" -> ((s, d) => {
      val enc = graft.ext.BpeTrain.encode(documents(s, d), "text",
        BpeEncodeTrainWords, BpeMerges)
      enc.groupBy("word", "f").agg(count(lit(1)).as("n_sym"))
        .agg(count(lit(1)).as("n_vocab"),
          sum(col("f")).as("total_words"),
          sum(col("f") * col("n_sym")).as("total_tokens"))
        .select(col("n_vocab"), col("total_words"), col("total_tokens"),
          expr("total_tokens * 1000 DIV total_words").as("fert_milli"))
    }),

    // LM-based quality scoring (the CCNet/KenLM shape): per-doc
    // aggregate of the shared `lmBigramScores` chain (scale shape and
    // the integer-exact determinism argument live on that helper).
    "text_lm_score" -> ((s, d) =>
      lmBigramScores(documents(s, d))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("known")).as("n_known"),
          sum(col("p")).as("sum_p"),
          // exact integer keep rule: >= 80% of bigram starts seen in
          // the reference model
          (sum(col("known")) * 5 >= count(lit(1)) * 4).as("lm_keep"))),

    // Interpolated Kneser–Ney bigram scoring (ext/KneserNey.scala):
    // the modern smoothing next to text_lm_score's add-one model —
    // novel-continuation counts, dyadic discount 3/4, EXACT BIGINT
    // rationals, bit_length-quantized log2 (the scale shape and
    // determinism argument live on the ext object).
    "text_lm_kn" -> ((s, d) =>
      graft.ext.KneserNey.docScores(documents(s, d),
        col("doc_id") % 5 === 0)),

    // CCNet-style perplexity bucketing: split the scored corpus into
    // head/middle/tail TERCILES per language by LM score (head = most
    // reference-like; CCNet trains only on head+middle and uses tail
    // as the discard/low-quality stratum). Exactness: a doc's score is
    // the integer mean avg_p = sum_p DIV n_bigrams of the scaled
    // bigram probabilities — no interpolated quantile EDGE anywhere
    // (quantile_cont edges are doubles whose last-ULP placement near
    // an integer score could legally differ cross-engine and flip a
    // boundary doc). Instead: per-(lang, avg_p) counts, one cumulative
    // window DESCENDING over the DISTINCT score values, and a tie
    // group buckets wholesale by its start rank vs n/3 and 2n/3 —
    // pure long arithmetic, CCNet's ties-go-together semantics.
    // Scale shape: the count aggregate is map-side partial; the
    // cumulative window's input is one row per distinct score value
    // per lang — bounded by the score RANGE (0..1e8), not the corpus
    // — and docs get their bucket back via an equi-join on
    // (lang, avg_p), never a per-doc window.
    "pipeline_ccnet_buckets" -> ((s, d) => {
      val docs = documents(s, d)
      // lazily checkpointed: the LM chain feeds both the value-count
      // table and the final doc join — without the pin Spark would
      // replay the whole scoring lineage per consumer
      val scored = lmBigramScores(docs)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("p")).as("sum_p"))
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select(col("doc_id"), col("lang"),
          expr("sum_p DIV n_bigrams").as("avg_p"))
        .localCheckpoint(false)
      val vc = scored.groupBy("lang", "avg_p")
        .agg(count(lit(1)).as("cnt"))
      val cum = vc.withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy("lang").orderBy(col("avg_p").desc)))
      // per-lang totals fold out of the value counts — never a second
      // pass over the docs
      val tot = vc.groupBy("lang").agg(sum(col("cnt")).as("n"))
      val lab = cum.join(broadcast(tot), "lang")
        .select(col("lang"), col("avg_p"),
          when(col("cum") - col("cnt") < expr("n DIV 3"), "head")
            .when(col("cum") - col("cnt") < expr("(2 * n) DIV 3"),
              "middle")
            .otherwise("tail").as("bucket"))
      scored.join(lab, Seq("lang", "avg_p"))
        .select("doc_id", "lang", "avg_p", "bucket")
    }),

    // Candidate verification — the stage after MinHash-LSH in a real
    // dedup pipeline: exact edit distance over the CANDIDATE pairs
    // only (never all pairs; |cand| ≪ |corpus|²). levenshtein is
    // classical single-char-edit distance in both engines; the
    // verified flag is pure integer arithmetic (lev·10 ≤ 3·maxlen ⇔
    // normalized distance ≤ 0.3), so no float boundary can flip it.
    "dedup_verify_lev" -> ((s, d) => {
      val docs = documents(s, d)
      val cand = Dedup.minhashPairs(docs, "doc_id", "text",
        NumHashes, Bands, JaccardThreshold).select("id_a", "id_b")
      cand
        .join(docs.select(col("doc_id").as("id_a"), col("text").as("ta")),
          "id_a")
        .join(docs.select(col("doc_id").as("id_b"), col("text").as("tb")),
          "id_b")
        .select(col("id_a"), col("id_b"),
          levenshtein(col("ta"), col("tb")).cast("long").as("lev"),
          round(lit(1.0) - levenshtein(col("ta"), col("tb")).cast("double") /
            greatest(length(col("ta")), length(col("tb"))).cast("double"), 6)
            .as("edit_sim"),
          when(levenshtein(col("ta"), col("tb")) * 10 <=
            greatest(length(col("ta")), length(col("tb"))) * 3, 1L)
            .otherwise(0L).as("verified"))
    }),

    // The same verification spelled for 100 TB: the THRESHOLD form
    // levenshtein(a, b, k) early-exits once the distance provably
    // exceeds k (banded O(k·min(n,m)) instead of O(n·m)), returning
    // -1 beyond the band. A dedup gate only needs "within budget or
    // not", and the overwhelmingly common case at scale is a
    // non-duplicate whose exact distance is wasted work. Budget =
    // floor(30% of the longer text) — lev ≤ floor(0.3m) ⇔
    // 10·lev ≤ 3m, exactly dedup_verify_lev's integer gate, so
    // verified agrees between the two spellings row for row.
    "dedup_verify_lev_bounded" -> ((s, d) => {
      val docs = documents(s, d)
      val cand = Dedup.minhashPairs(docs, "doc_id", "text",
        NumHashes, Bands, JaccardThreshold).select("id_a", "id_b")
      cand
        .join(docs.select(col("doc_id").as("id_a"), col("text").as("ta")),
          "id_a")
        .join(docs.select(col("doc_id").as("id_b"), col("text").as("tb")),
          "id_b")
        .select(col("id_a"), col("id_b"),
          expr("levenshtein(ta, tb, CAST(greatest(length(ta), " +
            "length(tb)) * 3 DIV 10 AS INT))").cast("long")
            .as("lev_bounded"))
        .withColumn("verified",
          when(col("lev_bounded") >= 0, 1L).otherwise(0L))
    }),

    // Shingle-set containment over the LSH candidates — catches
    // quote/boilerplate inclusion where a short doc sits inside a long
    // one and symmetric Jaccard stays low (see Dedup.containmentPairs
    // for the candidate-recall caveat). Keep filter and flag are
    // integer arithmetic — no float boundary in membership.
    "dedup_containment" -> ((s, d) =>
      Dedup.containmentPairs(documents(s, d), "doc_id", "text",
        NumHashes, Bands)),

    // Corpus mixing: resample so language shares approach a target
    // distribution (the data-mixing step before LLM training). Two
    // aggregates produce a 5-row rate table (capacity K = min over
    // langs of count/target; rate = target·K/count ≤ 1); membership is
    // the usual md5 hash-keep — deterministic, oracle-reproducible,
    // and the per-row work is one broadcast-joined pushable predicate.
    // No driver collect: counts, K, and rates all stay DataFrames.
    // Temperature-scaled rebalancing (the multilingual data recipe of
    // GPT-3/PaLM-style training sets, alpha = 1/2): keep rate
    // proportional to n^(alpha-1) = 1/sqrt(n), normalized so the
    // SMALLEST language keeps 100% — low-resource languages upweight
    // toward uniform without ever oversampling. Same machinery as
    // pipeline_mix (data-derived broadcast rate table, md5 hash-keep
    // membership as a pure function of doc_id); sqrt is IEEE
    // correctly-rounded in both engines, so the rate table replays
    // bit-identically.
    "sample_temperature" -> ((s, d) => {
      val counts = documents(s, d).groupBy("lang").count()
      val minc = counts.agg(min(col("count")).as("mn"))
      val rates = counts.crossJoin(broadcast(minc))
        .select(col("lang"),
          sqrt(col("mn").cast("double") / col("count")).as("rate"))
      documents(s, d).join(broadcast(rates), "lang")
        .filter(Sampling.hashBucket(col("doc_id"), "temp", 1000000) <
          col("rate") * lit(1e6))
        .select("doc_id", "lang", "source")
    }),

    "pipeline_mix" -> ((s, d) => {
      val target = typedLit(MixTarget)
      val counts = documents(s, d).groupBy("lang").count()
        .withColumn("t", element_at(target, col("lang")))
      val cap = counts.agg(min(col("count") / col("t")).as("k"))
      val rates = counts.crossJoin(broadcast(cap))
        .select(col("lang"), (col("t") * col("k") / col("count")).as("rate"))
      documents(s, d).join(broadcast(rates), "lang")
        .filter(Sampling.hashBucket(col("doc_id"), "mix", 1000000) <
          col("rate") * lit(1e6))
        .select("doc_id", "lang", "source")
    }),

    // Exact-substring duplication signal at word-5-gram granularity
    // (the Lee et al. "deduplicating training data" family): per doc,
    // the positions whose 5-gram recurs ANYWHERE in the corpus and the
    // tokens those windows cover. Grams travel as md5 hex, so every
    // shuffle key is 32 bytes regardless of text length; the dup-gram
    // set is one skinny hash-aggregate re-applied as a semi-join; the
    // covered-token union is an explode over the (already small)
    // duplicated positions only. dup_ratio is an int-ratio double —
    // no float-sum order dependence.
    "dedup_spans" -> ((s, d) => {
      // n_tokens is map-side size() on the raw scan — no explode, no
      // shuffle. The heavy gram subtree runs ONCE: the exploded
      // covered-index rows keep 5 rows per duplicated position, so
      // dup_grams falls out of the same aggregate as count/5 (exact
      // integer division) instead of a second pass.
      val base = documents(s, d).select(col("doc_id"),
        size(Dedup.tokens(col("text"))).cast("long").as("n_tokens"))
      val tok = documents(s, d).select(col("doc_id"),
        posexplode(Dedup.tokens(col("text"))).as(Seq("pos", "w")))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val grams = tok
        .select(col("doc_id"), col("pos"), col("w"),
          lead("w", 1).over(w).as("w1"), lead("w", 2).over(w).as("w2"),
          lead("w", 3).over(w).as("w3"), lead("w", 4).over(w).as("w4"))
        .filter(col("w4").isNotNull)
        .select(col("doc_id"), col("pos"),
          md5(concat_ws(" ", col("w"), col("w1"), col("w2"), col("w3"),
            col("w4"))).as("g"))
      // duplicated-gram membership via a map-side-combined aggregate
      // + semi join — NOT a count over a gram-keyed window: a
      // corpus-frequent boilerplate gram (the precise thing this op
      // targets) would funnel every occurrence into one window task
      // with no partial aggregation. The LAZY localCheckpoint
      // materializes the gram table at first use (eager would launch
      // Spark jobs at query-CONSTRUCTION time) so the semi's two
      // sides don't recompute the tokenize+window subtree.
      val gramsC = grams.localCheckpoint(false)
      val dup = gramsC.groupBy("g").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1).select("g")
      val stats = gramsC.join(dup, Seq("g"), "left_semi")
        .select(col("doc_id").as("s_doc"),
          explode(sequence(col("pos"), col("pos") + 4)).as("ti"))
        .groupBy("s_doc")
        .agg(countDistinct(col("ti")).as("dup_tokens"),
          count(lit(1)).as("n5"))
      base
        .join(stats, col("doc_id") === col("s_doc"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(expr("n5 div 5"), lit(0L)).as("dup_grams"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
          (coalesce(col("dup_tokens"), lit(0L)).cast("double") /
            col("n_tokens")).as("dup_ratio"))
    }),

    // Winnowing fingerprint dedup (Schleimer–Wilkerson–Aiken / MOSS):
    // same exact-substring target as dedup_spans but the shuffled
    // table is the THINNED fingerprint set (min hash per window of 4
    // gram positions, ~2/(w+1) density) instead of every gram —
    // the form you'd run at 100 TB. Over-common fingerprints
    // (boilerplate) are dropped MOSS-style before pairing, which also
    // bounds per-fingerprint pair fan-out at maxDocFreq^2.
    "dedup_winnow" -> ((s, d) =>
      Dedup.winnowPairs(documents(s, d), "doc_id", "text",
        k = 5, w = 4, maxDocFreq = 64, minShared = 2)),

    // Content-defined chunking dedup (ext/Dedup.cdcChunks — the
    // LBFS/restic storage-dedup family): rolling-hash boundaries,
    // then one chunk-keyed aggregate surfaces every chunk shared
    // across documents or repeated within one. Complements winnowing
    // (which FINGERPRINTS overlap) by recovering the actual shared
    // byte ranges — what a storage layer would dedup at rest.
    "dedup_cdc" -> ((s, d) =>
      Dedup.cdcChunks(documents(s, d), "doc_id", "text")
        .groupBy("chunk")
        .agg(countDistinct("id").as("n_docs"), count(lit(1)).as("n_occ"))
        .filter(col("n_occ") > 1)
        .select(md5(col("chunk")).as("fp"),
          length(col("chunk")).cast("long").as("chunk_len"),
          col("n_docs"), col("n_occ"))),

    // The remediation side of dedup_spans: REMOVE every token covered
    // by a duplicated 5-gram window and fingerprint the cleaned text
    // (md5 over the order-preserved kept tokens — full-text compare
    // without shipping full text, the text_pii pattern). Same
    // checkpointed gram table; the kept set is a (doc_id, pos)
    // anti-join — skinny keys only.
    "dedup_spans_clean" -> ((s, d) => {
      val base = documents(s, d).select(col("doc_id"),
        size(Dedup.tokens(col("text"))).cast("long").as("n_tokens"))
      // tok feeds BOTH the gram branch and the kept-token anti-join —
      // checkpointed so the corpus is tokenized/exploded exactly once
      val tok = documents(s, d).select(col("doc_id"),
        posexplode(Dedup.tokens(col("text"))).as(Seq("pos", "w")))
        .localCheckpoint(false)
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val grams = tok
        .select(col("doc_id"), col("pos"), col("w"),
          lead("w", 1).over(w).as("w1"), lead("w", 2).over(w).as("w2"),
          lead("w", 3).over(w).as("w3"), lead("w", 4).over(w).as("w4"))
        .filter(col("w4").isNotNull)
        .select(col("doc_id"), col("pos"),
          md5(concat_ws(" ", col("w"), col("w1"), col("w2"), col("w3"),
            col("w4"))).as("g"))
        .localCheckpoint(false)
      val dup = grams.groupBy("g").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1).select("g")
      val covered = grams.join(dup, Seq("g"), "left_semi")
        .select(col("doc_id").as("c_doc"),
          explode(sequence(col("pos"), col("pos") + 4)).as("ti"))
        .distinct()
      val kept = tok.join(covered,
        col("doc_id") === col("c_doc") && col("pos") === col("ti"),
        "left_anti")
      val agg = kept.groupBy(col("doc_id").as("a_doc"))
        .agg(count(lit(1)).as("n_kept"),
          collect_list(struct(col("pos"), col("w"))).as("lst"))
        .select(col("a_doc"), col("n_kept"),
          md5(array_join(
            expr("transform(array_sort(lst), s -> s.w)"), " "))
            .as("clean_fp"))
      base.join(agg, col("doc_id") === col("a_doc"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("clean_fp"), md5(lit(""))).as("clean_fp"))
    }),

    // Deterministic train/val/test split: membership is a pure md5
    // function of doc_id, so the split is stable under reordering,
    // re-partitioning, and incremental re-runs — no leakage between
    // sets across pipeline versions. 14/1/1 sixteenths.
    "pipeline_split" -> ((s, d) => {
      val b = Sampling.hashBucket(col("doc_id"), "split", 16)
      documents(s, d)
        .select(col("n_chars"),
          when(b === 15, "test").when(b === 14, "val")
            .otherwise("train").as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // LEAKAGE-FREE split: pipeline_split hashed per DOCUMENT, so two
    // near-duplicates can land in train and test — the eval then
    // scores memorization (the Lee et al. 2022 contamination
    // mechanism). Here the split key is the near-dup GROUP (min-label
    // connected components over the minhash pairs; singletons are
    // their own group), so every group lands whole in one split BY
    // CONSTRUCTION. n_moved counts the docs whose naive per-doc
    // bucket disagrees with their group's — the would-have-leaked
    // volume the op exists to prevent (deterministic, oracle-checked).
    "pipeline_split_leakfree" -> ((s, d) => {
      val groups = graft.operators.ConnectedComponents.labels(
        Dedup.minhashPairs(documents(s, d), "doc_id", "text",
          NumHashes, Bands, JaccardThreshold)
          .select(col("id_a"), col("id_b")))
      def splitOf(b: org.apache.spark.sql.Column)
          : org.apache.spark.sql.Column =
        when(b === 15, "test").when(b === 14, "val").otherwise("train")
      documents(s, d)
        .select(col("doc_id"), col("n_chars"))
        .join(groups.select(col("id").as("doc_id"), col("label")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chars"),
          coalesce(col("label"), col("doc_id")).as("group_id"))
        .select(col("n_chars"), col("group_id"),
          splitOf(Sampling.hashBucket(col("group_id"), "split", 16))
            .as("split"),
          splitOf(Sampling.hashBucket(col("doc_id"), "split", 16))
            .as("naive"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("group_id")).as("n_groups"),
          sum(col("n_chars")).as("sum_chars"),
          sum((col("naive") =!= col("split")).cast("long"))
            .as("n_moved"))
    }),

    // Deterministic exact-k evaluation sample per stratum: order each
    // language by an md5 draw (a pure function of doc_id — stable
    // across runs, partitionings, and incremental re-runs) and keep
    // the first K via the skew-safe two-phase TopK, so a hot stratum
    // never collapses into one task. Same result as the plain window
    // (total order), which is what the oracle spells.
    "sample_fixed_k" -> ((s, d) => {
      val df = documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(concat(lit("fk"), col("doc_id").cast("string"))).as("draw"))
      graft.operators.TopK.topKPerKey(df, Seq("lang"),
        Seq(col("draw").asc, col("doc_id").asc), k = 50)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("rank"))
    }),

    // Hashed-feature linear classifier (fasttext-shaped): each token
    // hashes into one of 8192 buckets whose pseudo-weight is
    // (bucket − 4096)/8192 — the slot a trained weight table would
    // fill. Buckets come from md5 (Sampling.hashBucket), which both
    // engines compute over the token's UTF-8 BYTES — unlike a
    // codepoint fold, the mirror stays exact for non-ASCII tokens
    // too. The margin accumulates as an INTEGER sum of bucket
    // offsets (exact, associative — safe under any aggregation
    // order) and converts to double once at the end; one map-side
    // explode + one partial-agg'd groupBy at any corpus size.
    "text_classify_hash" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("t"))
        .select(col("doc_id"),
          (Sampling.hashBucket(col("t"), "w", 8192) - lit(4096L)).as("wb"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum(col("wb")).as("acc"))
        .select(col("doc_id"), col("n_tokens"),
          (col("acc").cast("double") / lit(8192.0) / col("n_tokens"))
            .as("margin"),
          (col("acc") > 0L).as("keep"))),

    // Distributed classifier TRAINING (ext/NaiveBayes.scala): the
    // offline step text_classify_hash's inference shape assumes. One
    // map-side-combinable groupBy produces a weight table bounded by
    // |labels| × 4096 rows at any corpus size; weights are the
    // half-bit-quantized Laplace log-likelihood
    // floor(2·log2(cnt+1)) − floor(2·log2(tot_c+4096)) — pure
    // integer arithmetic (length(bin(n*n))), no float-log or
    // summation-order seam (docs/HASH_NUMERICS.md), and the
    // denominator cancels class volume so the biggest class gets no
    // systematic edge. Trained on the even-doc_id half so
    // text_nb_classify measures held-out generalization, not just
    // resubstitution. (This corpus' lang labels draw from one
    // shared vocabulary, so per-class weights here differ only by
    // sampling noise; NaiveBayesSpec proves class separation and
    // imbalance-robustness on informative corpora.)
    "text_nb_train" -> ((s, d) =>
      NaiveBayes.trainWeights(
        documents(s, d).filter(col("doc_id") % 2 === 0), "lang", 4096)),

    // Apply the trained table to EVERY doc (including the held-out
    // odd half): weight table broadcast (hits via w, misses via the
    // per-class unseen weight u — every class scores every token),
    // per-doc score agg is the only data-sized shuffle, argmax
    // window partitions by doc_id.
    "text_nb_classify" -> ((s, d) =>
      NaiveBayes.classify(documents(s, d),
        NaiveBayes.trainWeights(
          documents(s, d).filter(col("doc_id") % 2 === 0), "lang", 4096),
        "lang", 4096)),

    // Sorted-neighborhood record linkage — the third blocking family
    // next to LSH (dedup_minhash) and key blocking (dedup_key): sort
    // within a blocking key, compare each record only to its w−1
    // successors in sort order, verify with exact edit distance over
    // a fixed-width head. Candidates are O(n·w) instead of O(n²),
    // the window partitions by block key (first two tokens — at this
    // corpus' ~30-word vocab that's ~900 blocks; real corpora get
    // n-token or phonetic keys the same way) so no global sort ever
    // lands in one task, and the lev≤20 verify threshold sits in the
    // measured gap of the pair-distance distribution (0–1 for true
    // near-dups vs 29+ for coincidental block-mates).
    "dedup_snm" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("text"),
        concat_ws(" ", slice(Dedup.tokens(col("text")), 1, 2)).as("blk"),
        substring(col("text"), 1, 60).as("head"))
      val w = Window.partitionBy("blk").orderBy("text", "doc_id")
      docs
        .withColumn("id1", lead("doc_id", 1).over(w))
        .withColumn("h1", lead("head", 1).over(w))
        .withColumn("id2", lead("doc_id", 2).over(w))
        .withColumn("h2", lead("head", 2).over(w))
        .select(col("doc_id"), col("head"),
          explode(array(
            struct(col("id1").as("nid"), col("h1").as("nh")),
            struct(col("id2").as("nid"), col("h2").as("nh")))).as("nb"))
        .filter(col("nb.nid").isNotNull)
        .select(least(col("doc_id"), col("nb.nid")).as("doc_a"),
          greatest(col("doc_id"), col("nb.nid")).as("doc_b"),
          levenshtein(col("head"), col("nb.nh")).cast("long").as("lev"))
        .filter(col("lev") <= 20)
    })
  )

  /** GPT-2-shaped pretokenizer, restricted to constructs Java regex
    * and RE2 evaluate identically: leftmost-first alternation, ASCII
    * classes, no lookahead. */
  private val BpeIshPattern =
    "'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Target language shares for pipeline_mix (sum = 1). */
  private val MixTarget = Map(
    "en" -> 0.40, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)

  /** Valid PNG (even doc_id) / JPEG (odd) bytes with the dims planted
    * from doc_id — shared by mm_dims and mm_resize; oracles recompute
    * the planted values independently.
    */
  private def syntheticImagePayload: org.apache.spark.sql.Column = {
    def be(c: org.apache.spark.sql.Column, hexDigits: Int) =
      unhex(lpad(hex(c), hexDigits, "0"))
    val w = (col("doc_id") % 640 + 1).cast("int")
    val h = (col("doc_id") % 480 + 1).cast("int")
    // PNG: signature + IHDR length/type + w + h + depth/color/
    // compression/filter/interlace (29 bytes)
    val png = concat(
      unhex(lit("89504E470D0A1A0A0000000D49484452")),
      be(w, 8), be(h, 8), unhex(lit("0802000000")))
    // JPEG: SOI + APP0(JFIF) + SOF0 with h/w (39 bytes) — the APP0
    // segment exercises the marker walker's length-skip
    val jpg = concat(
      unhex(lit("FFD8FFE000104A46494600010100000100010000")),
      unhex(lit("FFC0001108")), be(h, 4), be(w, 4),
      unhex(lit("03011100021101031101")))
    when(col("doc_id") % 2 === 0, png).otherwise(jpg)
  }

  /** Uncompressed gray8 raster ("G8" + be16 w + be16 h + w·h pixel
    * bytes) with dims AND every pixel planted from doc_id:
    * px(y, x) = (doc_id + 7y + 13x) mod 256. Built with pure
    * expressions (transform over a sequence → hex string → unhex), so
    * real pixel bytes flow through the DataFrame into the codec seam.
    * Dims stay small (4..27 × 4..19) — the payload is an expression,
    * not testdata, and the oracle replays every output pixel.
    */
  private def syntheticGray8Payload: org.apache.spark.sql.Column = {
    def be(c: org.apache.spark.sql.Column, hexDigits: Int) =
      unhex(lpad(hex(c), hexDigits, "0"))
    val w = (col("doc_id") % 24 + 4).cast("int")
    val h = (col("doc_id") % 16 + 4).cast("int")
    val pixHex = array_join(
      transform(sequence(lit(0), w * h - 1), i =>
        lpad(hex((col("doc_id") + floor(i / w).cast("int") * 7 +
          (i % w) * 13) % 256), 2, "0")), "")
    concat(unhex(lit("4738")), be(w, 4), be(h, 4), unhex(pixHex))
  }

  // ---- DuckDB oracles ----

  private val NormText =
    "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
  private val Toks = "string_split_regex(lower(trim(text)), '\\s+')"
  // TextAnalysis.Stopwords as a SQL IN-list (RAKE segmentation)
  private val StopsSql =
    TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")

  // Gopher-gate signals over a token list `ws` (mirrors
  // TextAnalysis.{avgTokenLength,symbolWordRatio,alphaWordFrac,
  // distinctStopwords} — exact integer-ratio doubles on both engines).
  private val GopherSignalsSql =
    """CASE WHEN len(ws) = 0 THEN 0.0
         ELSE CAST(list_sum([length(t) FOR t IN ws]) AS DOUBLE) / len(ws)
       END AS mwl,
       CASE WHEN len(ws) = 0 THEN 0.0
         ELSE CAST(len([t FOR t IN ws
           IF contains(t, '#') OR contains(t, '...')]) AS DOUBLE) / len(ws)
       END AS sym,
       CASE WHEN len(ws) = 0 THEN 0.0
         ELSE CAST(len([t FOR t IN ws IF regexp_matches(t, '[a-z]')])
           AS DOUBLE) / len(ws)
       END AS alpha,
       len(list_intersect(ws,
         ['the','a','of','and','in','to','is','on'])) AS nstop"""

  // Shared k-NN join mirror (query table = every 50th vector, shared
  // sign-LSH banding, guaranteed k via exact rescue) — used verbatim
  // by sim_knn_join and composed into sim_knn_classify.
  private lazy val KnnJoinSql =
    s"""WITH v AS (SELECT vec_id, $VecD AS v FROM embeddings),
        pl AS (SELECT vec_id AS pid, v AS pv FROM v
               WHERE vec_id < ${EmbedBands * EmbedRowsPerBand}),
        bits AS (SELECT a.vec_id, p.pid,
                 CASE WHEN ${dotSql("a.v", "p.pv")} > 0
                      THEN (1::BIGINT << (p.pid % $EmbedRowsPerBand))
                      ELSE 0::BIGINT END AS bit
                 FROM v a CROSS JOIN pl p),
        bands AS (SELECT vec_id, pid // $EmbedRowsPerBand AS band,
                  SUM(bit) AS bk FROM bits GROUP BY 1, 2),
        cand AS (SELECT DISTINCT q.vec_id AS qid, b.vec_id AS cid
                 FROM bands q JOIN bands b
                 ON q.band = b.band AND q.bk = b.bk
                 WHERE q.vec_id % 50 = 0),
        n AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM v),
        starved AS (SELECT vec_id AS qid FROM v
                    WHERE vec_id % 50 = 0 AND vec_id NOT IN
                      (SELECT qid FROM cand
                       GROUP BY qid HAVING count(*) >= 5)),
        scored AS (SELECT qid, cid,
                   ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cs
                   FROM cand JOIN n a ON cand.qid = a.vec_id
                             JOIN n b ON cand.cid = b.vec_id
                   WHERE qid NOT IN (SELECT qid FROM starved)),
        rescue AS (SELECT s.qid, b.vec_id AS cid,
                   ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cs
                   FROM starved s JOIN n a ON s.qid = a.vec_id
                        CROSS JOIN n b),
        ranked AS (SELECT qid, cid, cs,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY cs DESC, cid) AS rank
                   FROM (SELECT * FROM scored
                         UNION ALL SELECT * FROM rescue))
        SELECT qid, cid, rank, round(cs, 6) AS cos
        FROM ranked WHERE rank <= 5"""

  // Composite = mean of the four indicators (reads the aliases above).
  private val GopherGqSql =
    """((CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.0 END)
       + (CASE WHEN sym <= 0.1 THEN 1.0 ELSE 0.0 END)
       + (CASE WHEN alpha >= 0.8 THEN 1.0 ELSE 0.0 END)
       + (CASE WHEN nstop >= 2 THEN 1.0 ELSE 0.0 END)) / 4"""

  /** Shared MinHash-LSH oracle scaffold over any shingle-set CTE
    * `sh2(doc_id, ts)`: one md5 per shingle, double hashing
    * h_i = (h1 + i*h2) mod P over its two 32-bit hex slices, skinny
    * band join, then exact Jaccard on candidates — mirrors
    * Dedup.minhashPairsFromShingles.
    */
  /** The WITH-clause scaffold shared by every LSH oracle: shingle
    * sets → md5 double-hash signatures → band keys → `cand(id_a,
    * id_b)` candidate pairs (plus `sh2(doc_id, ts)` still in scope for
    * exact scoring).
    */
  private def lshCandCtes(shingleCtes: String,
      numHashes: Int = NumHashes, nBands: Int = Bands,
      pairCond: String = "a.doc_id < b.doc_id"): String = {
    val P = graft.ext.Dedup.MinhashPrime
    val rpb = numHashes / nBands
    val sig = (0 until numHashes)
      .map(i => s"list_min([(h[1] + $i * h[2]) % $P FOR h IN hs])")
      .mkString("[", ", ", "]")
    val bands = (0 until nBands).map { j =>
      (0 until rpb)
        .map(r => s"sig[${j * rpb + r + 1}]").mkString(" || '|' || ")
    }.mkString("[", ", ", "]")
    s"""$shingleCtes,
       hx AS (SELECT doc_id, [[('0x' || substr(md5(t), 1, 8))::BIGINT,
                               ('0x' || substr(md5(t), 9, 8))::BIGINT]
                              FOR t IN ts] AS hs FROM sh2),
       sg AS (SELECT doc_id, $sig AS sig FROM hx),
       bd AS (SELECT doc_id, unnest($bands) AS bk,
              unnest(range(0, $nBands)) AS band FROM sg),
       cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM bd a JOIN bd b
                ON a.band = b.band AND a.bk = b.bk AND $pairCond)"""
  }

  private def minhashOracleFrom(shingleCtes: String, threshold: Double,
      numHashes: Int = NumHashes, nBands: Int = Bands,
      pairCond: String = "a.doc_id < b.doc_id"): String =
    s"""WITH ${lshCandCtes(shingleCtes, numHashes, nBands, pairCond)}
       SELECT id_a, id_b,
         CAST(len(list_intersect(sa.ts, sb.ts)) AS DOUBLE) /
           len(list_distinct(sa.ts || sb.ts)) AS jaccard
       FROM cand JOIN sh2 sa ON cand.id_a = sa.doc_id
                 JOIN sh2 sb ON cand.id_b = sb.doc_id
       WHERE jaccard >= $threshold"""

  /** Word-3-gram shingle CTEs (mirrors Dedup.shingleRows). */
  private val Word3Ctes =
    s"""w AS (SELECT doc_id, $Toks AS ws FROM documents),
       sh AS (SELECT doc_id, list_distinct([ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
               FOR i IN range(0, greatest(len(ws)-2, 0))]) AS ts FROM w),
       sh2 AS (SELECT doc_id, ts FROM sh WHERE len(ts) > 0)"""

  /** Char-5-gram shingle CTEs (mirrors Dedup.charGramRows, n=5). */
  private val Char5Ctes =
    s"""w AS (SELECT doc_id, $NormText AS nt FROM documents),
       sh2 AS (SELECT doc_id,
               list_distinct([substr(nt, i, 5) FOR i IN range(1, len(nt) - 3)]) AS ts
               FROM w WHERE len(nt) >= 5)"""

  private def minhashOracle: String =
    minhashOracleFrom(Word3Ctes, JaccardThreshold)

  /** The per-doc verdict fold every flags query shares: one row per
    * id of `universe`, LEFT-joined to its `matches` (id, score) grouped
    * by id, so a match-less id still reports near_dup=false —
    * (id, near_dup, n_matches, best_<score>). `best` finishes the
    * coalesced best score (the embedding legs round it to 6 places,
    * where their oracle rounds).
    */
  private def verdictFold(universe: DataFrame, matches: DataFrame,
      best: Column => Column = identity): DataFrame = {
    val Array(id, score) = matches.columns
    universe.select(col(id))
      .join(matches.groupBy(id).agg(count(lit(1)).as("n_matches"),
          max(col(score)).as("__best")), Seq(id), "left")
      .select(col(id),
        col("n_matches").isNotNull.as("near_dup"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        best(coalesce(col("__best"), lit(0.0))).as(s"best_$score"))
  }

  /** dedup_minhash_index_flags' body (shared with
    * pipeline_ingest_gates; `ngram` serves dedup_ngram_index_flags
    * from the char-5-gram index): per-doc admit/reject verdicts from
    * the persisted index — estimate-gated candidates (gate opened to
    * 0.5 so estimator variance doesn't drop borderline true pairs)
    * EXACT-verified against re-read text of the candidate docs only,
    * self-matches excluded, folded LEFT from the batch universe.
    */
  private def minhashFlags(s: SparkSession, d: String,
      ngram: Boolean = false,
      threshold: Double = JaccardThreshold): DataFrame = {
    val dir = minhashIndexFor(s, d, ngram)
    val incoming = documents(s, d).filter(col("doc_id") % 20 === 0)
    val pairs = graft.ext.MinHashIndex.probeVerified(
        incoming, documents(s, d), "doc_id", "text", dir,
        threshold = threshold, estThreshold = 0.5)
      .filter(col("id_a") =!= col("id_b"))
    verdictFold(incoming,
      pairs.select(col("id_a").as("doc_id"), col("jaccard")))
  }

  /** dedup_embed_ann_flags' body (shared with pipeline_ingest_gates):
    * per-vector verdicts over the indexed near-dup pair set — the
    * embedding analog of [[minhashFlags]] and the batch reference of
    * `StreamingOps.annGate` (same candidate rule: probe×probe
    * co-occurrence under the committed index's frozen centroids,
    * exact cosine on candidates only). LEFT from the incoming
    * universe, so candidate-less vectors still report near_dup=false.
    */
  private def embedAnnFlags(s: SparkSession, d: String): DataFrame = {
    val (dir, emb) = annIndexFor(s, d)
    val pairs = graft.ext.AnnIndex.cosinePairsIndexed(emb, "vec_id",
      "embedding", dir, CosineThreshold, probes = 4)
    val touched = pairs
      .select(col("id_a").as("vec_id"), col("cos"))
      .unionByName(pairs.select(col("id_b").as("vec_id"), col("cos")))
    verdictFold(emb.filter(col("vec_id") % 20 === 0), touched,
      round(_, 6))
  }

  /** The short-circuited ingest front door behind
    * pipeline_ingest_gates_fast and pipeline_ingest_gates_composed:
    * `StreamingOps.ingestGates` in BATCH mode over the referee's row
    * universe (incoming docs that also have an embedding row — at
    * some SFs documents outnumber embeddings). The operator chains
    * the bloom / minhash / ann gates on one frame: exact dups emit no
    * near-dup probe units, survivors' verdicts equal the referee legs'
    * by per-doc independence, the exact verify runs in-stream, and
    * all three index dirs are generation-guarded. The oracle (the
    * referee legs CASE-NULLed on exact_dup) hash-checks all of it;
    * IngestGatesSpec pins stream == batch across micro-batches and a
    * restart. pipeline_ingest_gates stays the all-legs referee.
    *
    * NOTE (r18 negative result, recorded so later rounds do not
    * retry): a "servedScoped" mechanism — construct + materialize a
    * gate query on IterConf's isolated session with AQE off and
    * footer-derived partitions, to stop lazy localCheckpoints from
    * compiling/executing their exchanges as serial ~1-task jobs
    * during query construction — was built, measured, and REVERTED
    * for every query it was tried on (this front door,
    * dedup_exact_stateful, dedup_minhash_stateful,
    * dedup_embed_ann_stateful, dedup_groups_index,
    * dedup_survivors_index). It won only in cold-JVM profiling (the
    * front door went 11.9→4.9 s, where each action costs ~150 ms of
    * driver/codegen warmup); under WARM bench conditions the adaptive
    * plans' runtime broadcasts/coalescing beat the chatter savings on
    * every shape (same-window control-normalized A/Bs — front door
    * scoped ~3.8 s vs adaptive 3.5 s — plus a calib-adjusted
    * full-bench pair). The scoring stateful gates were the worst
    * case: the byte-derived width serialized the bucket scoring into
    * one 9.5 s task. The isolated AQE-off session stays only inside
    * IterConf's fixed-shape iteration loops (loopScope/
    * materializeLoop), where it genuinely wins. The kept wins are the
    * parallel AnnIndex.load and the footer-derived nCells.
    */
  private def ingestFrontDoor(s: SparkSession, d: String): DataFrame = {
    val (bdir, tsKey) = bloomIndexFor(s, d)
    val mdir = minhashIndexFor(s, d)
    val (adir, emb) = annIndexFor(s, d)
    // ONE side-table load serves the cell table AND the gate's probe
    // assignment (plumbed, never cached across runs)
    val loaded = graft.ext.AnnIndex.load(s, adir)
    val cells = graft.ext.AnnIndex.cellTable(emb, "vec_id",
      "embedding", adir, probes = 4, pre = Some(loaded))
    // each incoming row carries BOTH text and vector
    val incoming = documents(s, d)
      .filter(col("doc_id") % 20 === 0)
      .join(emb.filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("doc_id"), col("embedding")),
        "doc_id")
      .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
    graft.streaming.StreamingOps.ingestGates(incoming, "doc_id",
      "text", "embedding", "ts", documents(s, d), bdir, tsKey,
      mdir, jaccardThreshold = JaccardThreshold,
      estThreshold = 0.5, annDir = adir, corpusCells = cells,
      cosineThreshold = CosineThreshold, probes = 4,
      preAnn = Some(loaded))
  }

  /** Survivor selection over a near-dup pair list (shared by the
    * mining-leg and index-served flavors): min-label connected
    * components label the groups, singletons survive as their own
    * group, and inside a group the LONGEST text wins (ties -> min
    * doc_id — deterministic, oracle-checkable). The pick is one
    * (group)-partitioned top-1 window over skinny
    * (doc_id, len, group_id) rows.
    */
  private def survivorPick(docs: DataFrame,
      pairs: DataFrame): DataFrame =
    survivorPickFromGroups(docs,
      graft.operators.ConnectedComponents.labels(
        pairs.select(col("id_a"), col("id_b"))))

  /** The pick itself, over an already-labeled (id, label) groups
    * frame — also the serve path of dedup_survivors_incremental,
    * where the labels come from the index's at-rest groups table.
    */
  private def survivorPickFromGroups(docs: DataFrame,
      groups: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .select(col("doc_id"), length(col("text")).as("len"))
      .join(groups.select(col("id").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("len"),
        coalesce(col("label"), col("doc_id")).as("group_id"))
      .withColumn("rn", row_number().over(Window
        .partitionBy("group_id").orderBy(desc("len"), col("doc_id"))))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("group_id")))
      .filter(col("rn") === 1)
      .select(col("group_id"), col("doc_id").as("survivor_id"),
        col("n_members"))
  }

  /** The per-corpus ANN index dir under `target/ann_index` and the
    * embeddings parquet's metadata fingerprint — [[minhashIndexDir]]'s
    * twin.
    */
  private def annIndexDir(s: SparkSession, d: String,
      suffix: String = ""): (String, String) = {
    val key = new java.io.File(d).getCanonicalPath
      .replaceAll("[^A-Za-z0-9.]+", "_")
    (s"target/ann_index/$key$suffix",
      graft.ext.AnnIndex.parquetFingerprint(s,
        s"$d/embeddings.parquet"))
  }

  /** The dedup family's shared ANN index (`_dedup`), built if stale,
    * and the embeddings frame it indexes. nCells = max(16, N/125), N
    * read from parquet footers — equal to a count() with no action.
    */
  private[graft] def annIndexFor(s: SparkSession, d: String)
      : (String, DataFrame) = {
    val (dir, fp) = annIndexDir(s, d, "_dedup")
    val emb = embeddings(s, d)
    val nCells = math.max(16L, graft.ext.AnnIndex.parquetRowCount(s,
      s"$d/embeddings.parquet") / 125L).toInt
    graft.ext.AnnIndex.ensureBuilt(emb, "vec_id", "embedding", dir,
      nCells = nCells, m = 32, nCentroids = 64, iters = 3,
      fingerprint = fp)
    (dir, emb)
  }

  /** The per-corpus persisted MinHash index over documents, built if
    * stale: word 3-grams at (NumHashes, Bands), or with `ngram` the
    * char 5-gram one (64 hashes, 8 bands) at `_ngram`.
    */
  private def minhashIndexFor(s: SparkSession, d: String,
      ngram: Boolean = false): String = {
    val (dir, fp) = minhashIndexDir(s, d, if (ngram) "_ngram" else "")
    if (ngram)
      graft.ext.MinHashIndex.ensureBuilt(documents(s, d), "doc_id",
        "text", dir, numHashes = 64, bands = 8, fingerprint = fp,
        grams = "char5")
    else
      graft.ext.MinHashIndex.ensureBuilt(documents(s, d), "doc_id",
        "text", dir, NumHashes, Bands, fp)
    dir
  }

  /** The per-corpus Bloom gate index (`_bloom`) over the documents not
    * in the incoming 1-in-20, built if stale, and its canonical key:
    * the sorted distinct token set.
    */
  private def bloomIndexFor(s: SparkSession, d: String)
      : (String, Column) = {
    val (dir, fp) = minhashIndexDir(s, d, "_bloom")
    val tsKey = concat_ws(" ",
      array_sort(array_distinct(Dedup.tokens(col("text")))))
    graft.ext.BloomIndex.ensureBuilt(
      documents(s, d).filter(col("doc_id") % 20 =!= 0),
      "doc_id", tsKey, dir, k = BloomK, mBits = BloomBits,
      fingerprint = fp)
    (dir, tsKey)
  }

  /** Canonical per-SF-dir index path + documents fingerprint — ONE
    * home for the key-sanitizing regex and the fingerprint source of
    * the persisted MinHash and Bloom indexes (a missed edit in
    * per-query copies would silently split them onto different dirs).
    */
  private def minhashIndexDir(s: SparkSession, d: String,
      suffix: String = ""): (String, String) = {
    val key = new java.io.File(d).getCanonicalPath
      .replaceAll("[^A-Za-z0-9.]+", "_")
    (s"target/minhash_index/$key$suffix",
      graft.ext.AnnIndex.parquetFingerprint(s,
        s"$d/documents.parquet"))
  }

  /** Estimate-scored probe replay for the PERSISTED MinHash index
    * (mirrors MinHashIndex.probe): candidates from the same band
    * CTEs, scored by signature-component agreement / numHashes — an
    * exact binary fraction at power-of-two numHashes, so hash-exact
    * cross-engine. Parameterized over the shingle unit (word3/char5
    * via the shared CTE scaffolds) and geometry.
    */
  private def minhashAgreeSql(numHashes: Int): String =
    s"""CAST(len(list_filter(range(1, ${numHashes + 1}),
       i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $numHashes"""

  private def minhashIndexOracleFrom(shingleCtes: String,
      threshold: Double, numHashes: Int = NumHashes,
      nBands: Int = Bands): String =
    s"""WITH ${lshCandCtes(shingleCtes, numHashes, nBands,
        "a.doc_id % 20 = 0")}
       SELECT id_a, id_b, ${minhashAgreeSql(numHashes)} AS est_jaccard
       FROM cand JOIN sg sa ON cand.id_a = sa.doc_id
                 JOIN sg sb ON cand.id_b = sb.doc_id
       WHERE est_jaccard >= $threshold"""

  private def minhashIndexOracle: String =
    minhashIndexOracleFrom(Word3Ctes, JaccardThreshold)

  /** Bloom gate replay shared by dedup_bloom (corpus-scan leg) and
    * dedup_bloom_index (persisted-bitmap leg — bit-identical by
    * construction): a batch doc's bloom_hit is true iff ALL k of its
    * double-hashed bit positions appear in the corpus's distinct
    * position set — exactly the bitmap's semantics, false positives
    * included; bool_and over a left join = the all-bits-set test.
    */
  private def bloomGateOracle: String =
    s"""WITH keyed AS (
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct($Toks)),
                       ' ')) AS key
            FROM documents),
          hx AS (SELECT doc_id, key,
                   ('0x' || substr(key, 1, 8))::BIGINT AS h1,
                   ('0x' || substr(key, 9, 8))::BIGINT AS h2 FROM keyed),
          cpos AS (SELECT DISTINCT (h1 + i * h2) % $BloomBits AS pos
                   FROM hx, (SELECT unnest(range(0, $BloomK)) AS i) ii
                   WHERE doc_id % 20 <> 0),
          bpos AS (SELECT doc_id, (h1 + i * h2) % $BloomBits AS pos
                   FROM hx, (SELECT unnest(range(0, $BloomK)) AS i) ii
                   WHERE doc_id % 20 = 0),
          hit AS (SELECT b.doc_id, bool_and(c.pos IS NOT NULL) AS bloom_hit
                  FROM bpos b LEFT JOIN cpos c ON b.pos = c.pos
                  GROUP BY b.doc_id)
          SELECT h.doc_id, t.bloom_hit,
                 h.key IN (SELECT key FROM hx WHERE doc_id % 20 <> 0)
                   AS exact_dup
          FROM hx h JOIN hit t ON h.doc_id = t.doc_id
          WHERE h.doc_id % 20 = 0"""

  /** Per-incoming-doc gate replay (mirrors probeVerified + the flags
    * fold): estimate gate at `estThreshold`, exact verify at the
    * final bar, self-matches out, LEFT join from the batch universe.
    * Parameterized over the shingle unit and geometry (word3 32×8 /
    * char5 64×8 legs).
    */
  private def minhashIndexFlagsOracleFrom(shingleCtes: String,
      numHashes: Int, nBands: Int, estThreshold: Double,
      threshold: Double): String =
    s"""WITH ${lshCandCtes(shingleCtes, numHashes, nBands,
        "a.doc_id % 20 = 0")},
       est AS (SELECT id_a, id_b
               FROM cand JOIN sg sa ON cand.id_a = sa.doc_id
                         JOIN sg sb ON cand.id_b = sb.doc_id
               WHERE ${minhashAgreeSql(numHashes)} >= $estThreshold
                 AND id_a <> id_b),
       ver AS (SELECT id_a, id_b,
                 CAST(len(list_intersect(va.ts, vb.ts)) AS DOUBLE) /
                   len(list_distinct(va.ts || vb.ts)) AS jaccard
               FROM est JOIN sh2 va ON est.id_a = va.doc_id
                        JOIN sh2 vb ON est.id_b = vb.doc_id
               WHERE jaccard >= $threshold),
       agg AS (SELECT id_a AS doc_id, count(*) AS n_matches,
                 max(jaccard) AS best_jaccard
               FROM ver GROUP BY id_a)
       SELECT d.doc_id, agg.doc_id IS NOT NULL AS near_dup,
         COALESCE(n_matches, 0) AS n_matches,
         COALESCE(best_jaccard, 0.0) AS best_jaccard
       FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
       WHERE d.doc_id % 20 = 0"""

  private def minhashIndexFlagsOracle: String =
    minhashIndexFlagsOracleFrom(Word3Ctes, NumHashes, Bands, 0.5,
      JaccardThreshold)

  /** Bigram-LM scoring CTEs ending in `scored(doc_id, known, p)` —
    * the DuckDB mirror of `lmBigramScores` (shared by text_lm_score
    * and pipeline_ccnet_buckets).
    */
  private val LmScoredCtes =
    """rt AS (SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z]+') AS ws
           FROM documents WHERE doc_id % 5 = 0),
       rtok AS (SELECT doc_id, unnest(ws) AS w,
                unnest(generate_series(1, len(ws))) AS pos FROM rt),
       uni AS (SELECT w AS w1, CAST(count(*) AS BIGINT) AS c1
               FROM rtok GROUP BY w),
       rbig AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM (
           SELECT w AS w1,
                  lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
           FROM rtok)
         WHERE w2 IS NOT NULL GROUP BY w1, w2),
       vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
       st AS (SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z]+') AS ws
           FROM documents WHERE doc_id % 5 <> 0),
       stok AS (SELECT doc_id, unnest(ws) AS w,
                unnest(generate_series(1, len(ws))) AS pos FROM st),
       sbig AS (SELECT doc_id, w1, w2 FROM (
           SELECT doc_id, w AS w1,
                  lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
           FROM stok)
         WHERE w2 IS NOT NULL),
       scored AS (
         SELECT s.doc_id,
                CASE WHEN b.c2 IS NOT NULL THEN 1 ELSE 0 END AS known,
                CAST((COALESCE(b.c2, 0) + 1) * 100000000 //
                  (COALESCE(u.c1, 0) + vv.v) AS BIGINT) AS p
         FROM sbig s
         LEFT JOIN uni u ON s.w1 = u.w1
         LEFT JOIN rbig b ON s.w1 = b.w1 AND s.w2 = b.w2
         CROSS JOIN vv)"""

  /** Connected components over the minhash pair list via a recursive
    * transitive-closure CTE, labeling each doc with the min id of its
    * near-dup group — mirrors graft.operators.ConnectedComponents.
    */
  /** Connected-components oracle over any (id_a, id_b) pair SQL —
    * the recursive-CTE replay of `ConnectedComponents.labels`
    * (min reachable id per node). Shared by the text (minhash) and
    * embedding (ANN) group families.
    */
  private def ccOracle(pairsSql: String, idName: String): String =
    s"""WITH RECURSIVE edges AS (SELECT id_a, id_b FROM ($pairsSql)),
       nodes AS (SELECT DISTINCT id FROM
         (SELECT id_a AS id FROM edges UNION SELECT id_b FROM edges)),
       sym AS (SELECT id_a AS src, id_b AS dst FROM edges
               UNION SELECT id_b, id_a FROM edges),
       reach AS (
         SELECT id, id AS r FROM nodes
         UNION
         SELECT s.dst AS id, reach.r FROM reach
         JOIN sym s ON reach.id = s.src)
       SELECT id AS $idName, min(r) AS group_id FROM reach GROUP BY id"""

  private def dedupGroupsOracle: String =
    ccOracle(minhashOracle, "doc_id")

  /** Survivor-pick oracle over [[dedupGroupsOracle]]'s groups (shared
    * by the mining-leg and index-served flavors): longest text per
    * group, ties -> min doc_id, singletons survive trivially.
    */
  private def dedupSurvivorsOracle: String =
    s"""WITH g AS (SELECT * FROM ($dedupGroupsOracle)),
       ag AS (SELECT d.doc_id, length(d.text) AS len,
              coalesce(g.group_id, d.doc_id) AS group_id
              FROM documents d LEFT JOIN g ON d.doc_id = g.doc_id),
       r AS (SELECT group_id, doc_id,
             row_number() OVER (PARTITION BY group_id
                                ORDER BY len DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY group_id) AS n_members
             FROM ag)
       SELECT group_id, doc_id AS survivor_id, n_members FROM r
       WHERE rn = 1"""

  /** SQL for bits [off, off+w) of the split (sig_hi, sig_lo) signature —
    * the DuckDB mirror of Dedup.sliceBits, generated from the same
    * Dedup.chunkLayout so Spark and the oracle band identically.
    */
  private def chunkSql(off: Int, w: Int): String =
    if (off + w <= 32) s"((sig_lo >> $off) & ${(1L << w) - 1})"
    else if (off >= 32) s"((sig_hi >> ${off - 32}) & ${(1L << w) - 1})"
    else {
      val loBits = 32 - off
      s"(((sig_lo >> $off) & ${(1L << loBits) - 1}) | " +
        s"((sig_hi & ${(1L << (off + w - 32)) - 1}) << $loBits))"
    }

  /** Generated SimHash oracle mirroring Dedup.simhashPairs: md5-sliced
    * token hashes, 64 +-1 bit votes, signature packed as two 32-bit
    * words, maxHamming+1-chunk banding (complete for the radius),
    * exact Hamming on candidates.
    */
  private def simhashOracle: String = {
    val votes = (0 until 64).map { b =>
      val w = if (b < 32) "lo" else "hi"
      val s = if (b < 32) b else b - 32
      s"sum(CASE WHEN (($w >> $s) & 1) = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(", ")
    def pack(base: Int) = (0 until 32).map { b =>
      s"(CASE WHEN v${base + b} > 0 THEN (1::BIGINT << $b) ELSE 0 END)"
    }.mkString(" | ")
    s"""WITH tok AS (SELECT doc_id, unnest($Toks) AS t FROM documents),
       h AS (SELECT doc_id,
             ('0x' || substr(md5(t), 1, 8))::BIGINT AS hi,
             ('0x' || substr(md5(t), 9, 8))::BIGINT AS lo FROM tok),
       v AS (SELECT doc_id, $votes FROM h GROUP BY doc_id),
       s AS (SELECT doc_id, ${pack(32)} AS sig_hi, ${pack(0)} AS sig_lo
             FROM v),
       bd AS (SELECT doc_id,
              unnest([${graft.ext.Dedup.chunkLayout(SimhashRadius + 1)
                .map { case (o, w) => chunkSql(o, w) }.mkString(", ")}])
                AS chunk,
              unnest(range(0, ${SimhashRadius + 1})) AS band FROM s),
       cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM bd a JOIN bd b
                ON a.band = b.band AND a.chunk = b.chunk
                   AND a.doc_id < b.doc_id)
       SELECT id_a, id_b,
         CAST(bit_count(xor(sa.sig_hi, sb.sig_hi)) +
              bit_count(xor(sa.sig_lo, sb.sig_lo)) AS INTEGER) AS hamming
       FROM cand JOIN s sa ON cand.id_a = sa.doc_id
                 JOIN s sb ON cand.id_b = sb.doc_id
       WHERE hamming <= $SimhashRadius"""
  }

  private val VecD = "list_transform(embedding, x -> CAST(x AS DOUBLE))"

  /** Generated dedup_embed_ann oracle: replays
    * `AnnIndex.cosinePairsIndexed` — the capacity-bounded first-
    * max(16, N/125) quantizer, probe assignment, probe×probe
    * candidates, exact cosine verify. With `superProbes` > 0 the
    * probe CTEs replay the TWO-LEVEL assignment exactly: supers are
    * the first ceil(sqrt(nCells)) centroids, each centroid joins its
    * max-dot super (ties to the smaller super id), each row ranks
    * only the children of its top-`superProbes` supers. sqrt/ceil at
    * these integer points are IEEE-exact cross-engine; every dot is
    * the pinned left fold.
    */
  private def embedAnnOracleSql(probes: Int, superProbes: Int): String = {
    val probeCtes =
      if (superProbes <= 0)
        s"""dd AS (SELECT a.vec_id, icv.cid,
                 ${dotSql("a.v", "icv.cv")} AS dp
                 FROM v a CROSS JOIN icv),
          probe AS (SELECT vec_id, cid FROM (
                 SELECT vec_id, cid, row_number() OVER (
                   PARTITION BY vec_id ORDER BY dp DESC, cid) AS rn
                 FROM dd) WHERE rn <= $probes)"""
      else
        s"""sup AS (SELECT cid AS sid, cv AS sv FROM icv
                  WHERE cid < (SELECT CAST(ceil(sqrt(nc)) AS BIGINT)
                               FROM ncl)),
          csup AS (SELECT cid, cv, sid FROM (
                 SELECT icv.cid, icv.cv, sup.sid, row_number() OVER (
                   PARTITION BY icv.cid
                   ORDER BY ${dotSql("icv.cv", "sup.sv")} DESC, sup.sid)
                   AS rn
                 FROM icv CROSS JOIN sup) WHERE rn = 1),
          rsup AS (SELECT vec_id, sid FROM (
                 SELECT a.vec_id, sup.sid, row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY ${dotSql("a.v", "sup.sv")} DESC, sup.sid)
                   AS rn
                 FROM v a CROSS JOIN sup) WHERE rn <= $superProbes),
          probe AS (SELECT vec_id, cid FROM (
                 SELECT r.vec_id, cs.cid, row_number() OVER (
                   PARTITION BY r.vec_id
                   ORDER BY ${dotSql("a.v", "cs.cv")} DESC, cs.cid)
                   AS rn
                 FROM rsup r JOIN csup cs USING (sid)
                   JOIN v a ON a.vec_id = r.vec_id) WHERE rn <= $probes)"""
    s"""WITH v AS (SELECT vec_id, $VecD AS v FROM embeddings),
          ncl AS (SELECT greatest(16, count(*) // 125) AS nc
                  FROM embeddings),
          icv AS (SELECT vec_id AS cid, v AS cv FROM v
                  WHERE vec_id < (SELECT nc FROM ncl)),
          $probeCtes,
          cand AS (SELECT DISTINCT p.vec_id AS id_a, q.vec_id AS id_b
                   FROM probe p JOIN probe q
                   ON p.cid = q.cid AND p.vec_id < q.vec_id),
          n AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM v)
          SELECT id_a, id_b, round(cs, 6) AS cos FROM (
            SELECT id_a, id_b,
              ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cs
            FROM cand JOIN n a ON cand.id_a = a.vec_id
                      JOIN n b ON cand.id_b = b.vec_id)
          WHERE cs >= $CosineThreshold"""
  }

  /** Per-vector verdict oracle over [[embedAnnOracleSql]]'s pair set
    * (dedup_embed_ann_flags): fold the pairs touching each incoming
    * vector (both directions), LEFT from the incoming universe.
    * max-then-round equals round-then-max (round is monotone), so
    * building on the rounded pair output is exact.
    */
  private def embedAnnFlagsOracleSql(probes: Int): String =
    s"""WITH p AS (${embedAnnOracleSql(probes, 0)}),
       inc AS (SELECT vec_id FROM embeddings WHERE vec_id % 20 = 0),
       t AS (SELECT id_a AS vec_id, cos FROM p
             UNION ALL SELECT id_b, cos FROM p),
       m AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_matches,
             max(cos) AS best_cos FROM t GROUP BY vec_id)
       SELECT inc.vec_id, m.n_matches IS NOT NULL AS near_dup,
         coalesce(m.n_matches, 0) AS n_matches,
         round(coalesce(m.best_cos, 0.0), 6) AS best_cos
       FROM inc LEFT JOIN m USING (vec_id)"""

  /** The short-circuited front door's oracle: survivors' verdicts
    * equal the referee legs' (per-doc independence), skipped legs
    * NULL — the referee oracles CASE-NULLed on exact_dup replay it
    * exactly.
    */
  private lazy val IngestGatesFastOracle: String =
    s"""WITH bl AS (SELECT * FROM ($bloomGateOracle)),
         mh AS (SELECT * FROM ($minhashIndexFlagsOracle)),
         em AS (SELECT * FROM (${embedAnnFlagsOracleSql(probes = 4)}))
         SELECT bl.doc_id, bl.exact_dup,
           CASE WHEN bl.exact_dup THEN NULL
                ELSE mh.near_dup END AS nd_text,
           CASE WHEN bl.exact_dup THEN NULL
                ELSE mh.best_jaccard END AS best_jaccard,
           CASE WHEN bl.exact_dup THEN NULL
                ELSE em.near_dup END AS nd_embed,
           CASE WHEN bl.exact_dup THEN NULL
                ELSE em.best_cos END AS best_cos,
           (NOT bl.exact_dup AND NOT mh.near_dup AND NOT em.near_dup)
             AS admit
         FROM bl JOIN mh ON bl.doc_id = mh.doc_id
                 JOIN em ON bl.doc_id = em.vec_id"""

  /** Generated sim_pq oracle: replays `Similarity.pqTrainedCodebooks`
    * (global int8 scale, subvector codes, `PqIters` unrolled integer
    * Lloyd rounds) and the cosine-shaped ADC + exact rescore. Every
    * training quantity is integer (or an IEEE-identical float step),
    * so the full train-then-search pipeline is hash-checkable — the
    * same generated-oracle device as the BPE rounds.
    */
  private lazy val PqOracleSql: String = pqOracleSqlGen(false)

  /** Shared generator for the PQ oracles; `restrictIvf` adds the
    * sim_ann_ivf cell-assignment/probing CTEs and restricts the ADC
    * scan (`enc`) to members of the query's 2 probed cells — PQ
    * TRAINING stays global on both engines, exactly like
    * `Similarity.ivfPqTopK`. `trainPred` restricts the TRAINING
    * corpus (int8 scale + Lloyd rounds; the coarse/init ids 0..63
    * must satisfy it) while encoding and search stay corpus-wide —
    * the replay of the AnnIndex build-then-append lifecycle, where
    * appended vectors are encoded with FROZEN quantizers.
    */
  private def pqOracleSqlGen(restrictIvf: Boolean,
      trainPred: String = "TRUE"): String = {
    val m = 32; val sub = 2; val nc = 64; val iters = 3
    val ivfCtes = if (!restrictIvf) "" else
      s"""icv AS (SELECT vec_id AS cid, v AS cv FROM v
                  WHERE vec_id < 16),
        iq AS (SELECT v AS qv FROM v WHERE vec_id = 0),
        idp AS (SELECT a.vec_id, icv.cid,
                ${dotSql("a.v", "icv.cv")} AS dp
                FROM v a CROSS JOIN icv),
        icell AS (SELECT vec_id, cid FROM (
            SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
              ORDER BY dp DESC, cid) AS rn FROM idp) WHERE rn = 1),
        iqc AS (SELECT icv.cid FROM icv CROSS JOIN iq
                ORDER BY ${dotSql("iq.qv", "icv.cv")} DESC, icv.cid
                LIMIT 2),
        mem AS (SELECT vec_id FROM icell JOIN iqc USING (cid)),
        """
    val encFrom =
      if (restrictIvf) "FROM cd JOIN cb USING (sm) JOIN mem USING (vec_id)"
      else "FROM cd JOIN cb USING (sm)"
    val iterCtes = (1 to iters).map { k =>
      s"""a$k AS (SELECT cd.vec_id, cd.sm, cd.a, ck.c,
             2 * list_sum(list_transform(range(1, ${sub + 1}),
                 i -> CAST(cd.a[i] * ck.cent[i] AS BIGINT))) -
             list_sum(list_transform(ck.cent,
                 x -> CAST(x * x AS BIGINT))) AS sc
             FROM cdT cd JOIN c${k - 1} ck USING (sm)),
         b$k AS (SELECT vec_id, sm, a, c, row_number() OVER (
                 PARTITION BY vec_id, sm ORDER BY sc DESC, c) AS rn
                 FROM a$k),
         m$k AS (SELECT sm, c, d, CAST(floor(
                 CAST(sum(x) AS DOUBLE) / count(*) + 0.5) AS INTEGER)
                   AS mv
                 FROM (SELECT b.sm, b.c, r.d, b.a[r.d + 1] AS x
                       FROM b$k b
                       CROSS JOIN unnest(range(0, $sub)) AS r(d)
                       WHERE b.rn = 1) GROUP BY sm, c, d),
         n$k AS (SELECT sm, c, list(mv ORDER BY d) AS cent
                 FROM m$k GROUP BY sm, c),
         c$k AS (SELECT p.sm, p.c, coalesce(n.cent, p.cent) AS cent
                 FROM c${k - 1} p LEFT JOIN n$k n
                 ON p.sm = n.sm AND p.c = n.c)"""
    }.mkString(",\n")
    val pivQ = (0 until m).map(i =>
      s"sum(CASE WHEN sm = $i THEN qdot END) AS s$i").mkString(",\n")
    val chainQ = (0 until m).map(i => s"s$i").mkString(" + ")
    s"""WITH v AS (SELECT vec_id, $VecD AS v FROM embeddings),
        s0c AS (SELECT max(greatest(list_max(v), -list_min(v))) AS s
                FROM v WHERE $trainPred),
        ms AS (SELECT unnest(range(0, $m)) AS sm),
        cd AS (SELECT vec_id, ms.sm,
               list_transform(
                 list_slice(v.v, ms.sm*$sub + 1, ms.sm*$sub + $sub),
                 x -> CAST(round(x * 127.0 / s0c.s) AS INTEGER)) AS a
               FROM v, ms, s0c),
        cdT AS (SELECT * FROM cd WHERE $trainPred),
        c0 AS (SELECT sm, CAST(vec_id AS INTEGER) AS c, a AS cent
               FROM cd WHERE vec_id < $nc),
        $iterCtes,
        ${ivfCtes}qr AS (SELECT ms.sm,
               list_slice(v.v, ms.sm*$sub + 1, ms.sm*$sub + $sub) AS qm
               FROM v, ms WHERE v.vec_id = 0),
        cb AS (SELECT ci.sm, ci.c, ci.cent,
               list_sum(list_transform(range(1, ${sub + 1}),
                 i -> qr.qm[i] * CAST(ci.cent[i] AS DOUBLE))) AS qdot,
               list_sum(list_transform(ci.cent,
                 x -> CAST(x * x AS BIGINT))) AS sq
               FROM c$iters ci JOIN qr USING (sm)),
        enc AS (SELECT cd.vec_id, cb.sm, cb.c, cb.qdot,
                list_sum(list_transform(cd.a,
                  x -> CAST(x * x AS BIGINT))) AS naa,
                2 * list_sum(list_transform(range(1, ${sub + 1}),
                  i -> CAST(cd.a[i] * cb.cent[i] AS BIGINT))) - cb.sq
                  AS sc
                $encFrom),
        best AS (SELECT vec_id, sm, qdot, naa, row_number() OVER (
                 PARTITION BY vec_id, sm ORDER BY sc DESC, c) AS rn
                 FROM enc),
        piv AS (SELECT vec_id,
                $pivQ,
                sum(naa) AS nsum
                FROM best WHERE rn = 1 GROUP BY vec_id),
        scq AS (SELECT vec_id, CASE WHEN nsum = 0 THEN 0.0
                ELSE ($chainQ) / sqrt(CAST(nsum AS DOUBLE)) END AS score
                FROM piv),
        cand AS (SELECT vec_id FROM scq
                 ORDER BY score DESC, vec_id LIMIT 80),
        q AS (SELECT v AS qv FROM v WHERE vec_id = 0),
        ex AS (SELECT s.vec_id,
               ${dotSql("s.v", "q.qv")} /
                 (${normSql("s.v")} * ${normSql("q.qv")}) AS cs
               FROM v s JOIN cand USING (vec_id) CROSS JOIN q)
        SELECT vec_id, round(cs, 6) AS score FROM ex
        ORDER BY cs DESC, vec_id LIMIT 10"""
  }
  /** Batch-serve oracle: `pqOracleSqlGen(restrictIvf = true)` with
    * the single `vec_id = 0` query CTEs generalized to a qid-keyed
    * BATCH (`batchPred` selects the query vectors) — probe pick,
    * ADC pivot, shortlist, and rescore all partition by qid. The
    * training CTEs are byte-identical to the single-query generator's
    * (corpus-wide, trainPred TRUE); mirrors `AnnIndex.searchBatch`.
    */
  private def pqBatchOracleSql(batchPred: String): String = {
    val m = 32; val sub = 2; val nc = 64; val iters = 3
    val iterCtes = (1 to iters).map { k =>
      s"""a$k AS (SELECT cd.vec_id, cd.sm, cd.a, ck.c,
             2 * list_sum(list_transform(range(1, ${sub + 1}),
                 i -> CAST(cd.a[i] * ck.cent[i] AS BIGINT))) -
             list_sum(list_transform(ck.cent,
                 x -> CAST(x * x AS BIGINT))) AS sc
             FROM cdT cd JOIN c${k - 1} ck USING (sm)),
         b$k AS (SELECT vec_id, sm, a, c, row_number() OVER (
                 PARTITION BY vec_id, sm ORDER BY sc DESC, c) AS rn
                 FROM a$k),
         m$k AS (SELECT sm, c, d, CAST(floor(
                 CAST(sum(x) AS DOUBLE) / count(*) + 0.5) AS INTEGER)
                   AS mv
                 FROM (SELECT b.sm, b.c, r.d, b.a[r.d + 1] AS x
                       FROM b$k b
                       CROSS JOIN unnest(range(0, $sub)) AS r(d)
                       WHERE b.rn = 1) GROUP BY sm, c, d),
         n$k AS (SELECT sm, c, list(mv ORDER BY d) AS cent
                 FROM m$k GROUP BY sm, c),
         c$k AS (SELECT p.sm, p.c, coalesce(n.cent, p.cent) AS cent
                 FROM c${k - 1} p LEFT JOIN n$k n
                 ON p.sm = n.sm AND p.c = n.c)"""
    }.mkString(",\n")
    val pivQ = (0 until m).map(i =>
      s"sum(CASE WHEN sm = $i THEN qdot END) AS s$i").mkString(",\n")
    val chainQ = (0 until m).map(i => s"s$i").mkString(" + ")
    s"""WITH v AS (SELECT vec_id, $VecD AS v FROM embeddings),
        s0c AS (SELECT max(greatest(list_max(v), -list_min(v))) AS s
                FROM v),
        ms AS (SELECT unnest(range(0, $m)) AS sm),
        cd AS (SELECT vec_id, ms.sm,
               list_transform(
                 list_slice(v.v, ms.sm*$sub + 1, ms.sm*$sub + $sub),
                 x -> CAST(round(x * 127.0 / s0c.s) AS INTEGER)) AS a
               FROM v, ms, s0c),
        cdT AS (SELECT * FROM cd),
        c0 AS (SELECT sm, CAST(vec_id AS INTEGER) AS c, a AS cent
               FROM cd WHERE vec_id < $nc),
        $iterCtes,
        icv AS (SELECT vec_id AS cid, v AS cv FROM v
                WHERE vec_id < 16),
        iq AS (SELECT vec_id AS qid, v AS qv FROM v
               WHERE $batchPred),
        idp AS (SELECT a.vec_id, icv.cid,
                ${dotSql("a.v", "icv.cv")} AS dp
                FROM v a CROSS JOIN icv),
        icell AS (SELECT vec_id, cid FROM (
            SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
              ORDER BY dp DESC, cid) AS rn FROM idp) WHERE rn = 1),
        iqc AS (SELECT qid, cid FROM (
            SELECT iq.qid, icv.cid, row_number() OVER (
              PARTITION BY iq.qid
              ORDER BY ${dotSql("iq.qv", "icv.cv")} DESC, icv.cid)
              AS rn
            FROM icv CROSS JOIN iq) WHERE rn <= 2),
        mem AS (SELECT iqc.qid, icell.vec_id
                FROM icell JOIN iqc USING (cid)),
        qr AS (SELECT iq.qid, ms.sm,
               list_slice(iq.qv, ms.sm*$sub + 1, ms.sm*$sub + $sub)
                 AS qm
               FROM iq, ms),
        cb AS (SELECT qr.qid, ci.sm, ci.c, ci.cent,
               list_sum(list_transform(range(1, ${sub + 1}),
                 i -> qr.qm[i] * CAST(ci.cent[i] AS DOUBLE))) AS qdot,
               list_sum(list_transform(ci.cent,
                 x -> CAST(x * x AS BIGINT))) AS sq
               FROM c$iters ci JOIN qr USING (sm)),
        enc AS (SELECT cb.qid, cd.vec_id, cb.sm, cb.c, cb.qdot,
                list_sum(list_transform(cd.a,
                  x -> CAST(x * x AS BIGINT))) AS naa,
                2 * list_sum(list_transform(range(1, ${sub + 1}),
                  i -> CAST(cd.a[i] * cb.cent[i] AS BIGINT))) - cb.sq
                  AS sc
                FROM cd JOIN cb ON cd.sm = cb.sm
                JOIN mem ON mem.vec_id = cd.vec_id
                        AND mem.qid = cb.qid),
        best AS (SELECT qid, vec_id, sm, qdot, naa, row_number() OVER (
                 PARTITION BY qid, vec_id, sm ORDER BY sc DESC, c)
                   AS rn
                 FROM enc),
        piv AS (SELECT qid, vec_id,
                $pivQ,
                sum(naa) AS nsum
                FROM best WHERE rn = 1 GROUP BY qid, vec_id),
        scq AS (SELECT qid, vec_id, CASE WHEN nsum = 0 THEN 0.0
                ELSE ($chainQ) / sqrt(CAST(nsum AS DOUBLE)) END
                  AS score
                FROM piv),
        cand AS (SELECT qid, vec_id FROM (
            SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
              ORDER BY score DESC, vec_id) AS rn FROM scq)
            WHERE rn <= 80),
        ex AS (SELECT cand.qid, s.vec_id,
               ${dotSql("s.v", "iq.qv")} /
                 (${normSql("s.v")} * ${normSql("iq.qv")}) AS cs
               FROM v s JOIN cand ON s.vec_id = cand.vec_id
               JOIN iq ON iq.qid = cand.qid)
        SELECT qid, vec_id, round(cs, 6) AS score FROM (
          SELECT qid, vec_id, cs, row_number() OVER (PARTITION BY qid
            ORDER BY cs DESC, vec_id) AS rn FROM ex)
        WHERE rn <= 10"""
  }

  private def dotSql(a: String, b: String) =
    s"list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i]))"
  private def normSql(v: String) =
    s"sqrt(list_sum(list_transform($v, x -> x * x)))"

  /** The BM25 scoring CTE chain (`sc` ends with (doc_id, score_raw))
    * — shared by the `search_bm25` and `search_rrf` oracles, the SQL
    * mirror of `bm25Scored`.
    */
  private val Bm25Ctes =
    s"""tk AS (SELECT doc_id, unnest($Toks) AS t FROM documents),
          pd AS (SELECT doc_id, count(*) AS dl,
                 sum(CASE WHEN t = 'spark' THEN 1 ELSE 0 END) AS tf_spark,
                 sum(CASE WHEN t = 'join' THEN 1 ELSE 0 END) AS tf_join,
                 sum(CASE WHEN t = 'window' THEN 1 ELSE 0 END) AS tf_window
                 FROM tk GROUP BY doc_id),
          st AS (SELECT count(*) AS n, sum(dl) AS sumdl,
                 sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS df_spark,
                 sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
                 sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS df_window
                 FROM pd),
          sc AS (SELECT doc_id,
            ln(1.0 + (n - df_spark + 0.5) / (df_spark + 0.5))
              * CAST(tf_spark AS DOUBLE) * 2.2
              / (CAST(tf_spark AS DOUBLE)
                 + 1.2 * (1.0 - 0.75 + 0.75 * dl
                          / (CAST(sumdl AS DOUBLE) / n)))
            + ln(1.0 + (n - df_join + 0.5) / (df_join + 0.5))
              * CAST(tf_join AS DOUBLE) * 2.2
              / (CAST(tf_join AS DOUBLE)
                 + 1.2 * (1.0 - 0.75 + 0.75 * dl
                          / (CAST(sumdl AS DOUBLE) / n)))
            + ln(1.0 + (n - df_window + 0.5) / (df_window + 0.5))
              * CAST(tf_window AS DOUBLE) * 2.2
              / (CAST(tf_window AS DOUBLE)
                 + 1.2 * (1.0 - 0.75 + 0.75 * dl
                          / (CAST(sumdl AS DOUBLE) / n))) AS score_raw
            FROM pd CROSS JOIN st
            WHERE tf_spark + tf_join + tf_window > 0)"""

  val oracleSql: Map[String, String] = Map(
    "dedup_exact" ->
      s"""SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
          FROM documents GROUP BY md5($NormText)""",

    "dedup_key" ->
      """SELECT lang, source, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
         FROM documents GROUP BY lang, source""",

    // URL replay: same planted messiness, same PARAM-LEVEL query
    // canonicalization (list_filter/list_sort replay Spark's
    // filter/array_sort list-op-for-list-op; anchored single-match
    // regexes everywhere else, no backreferences).
    "dedup_url" ->
      """WITH u AS (SELECT doc_id,
           CASE WHEN doc_id % 4 = 0 THEN
             'HTTP://WWW.SITE' || CAST((doc_id // 2) % 50 AS VARCHAR)
               || '.COM:80/docs/' || CAST(doc_id // 2 AS VARCHAR)
               || '?b=2&a=1&gclid=abc'
           WHEN doc_id % 4 = 1 THEN
             'http://www.site' || CAST((doc_id // 2) % 50 AS VARCHAR)
               || '.com/docs/' || CAST(doc_id // 2 AS VARCHAR)
               || '?a=1&utm_campaign=x&b=2'
           WHEN doc_id % 4 = 2 THEN
             'http://www.site' || CAST((doc_id // 2) % 50 AS VARCHAR)
               || '.com/docs/' || CAST(doc_id // 2 AS VARCHAR)
               || '/?utm_source=feed#section'
           ELSE
             'http://www.site' || CAST((doc_id // 2) % 50 AS VARCHAR)
               || '.com/docs/' || CAST(doc_id // 2 AS VARCHAR)
           END AS url
           FROM documents),
         c AS (SELECT doc_id,
           regexp_replace(url, '#.*$', '') AS nf FROM u),
         q AS (SELECT doc_id,
           regexp_replace(nf, '\?.*$', '') AS path,
           coalesce(array_to_string(list_sort(list_filter(
             string_split(coalesce(
               regexp_extract(nf, '\?(.*)$', 1), ''), '&'),
             x -> x <> '' AND NOT regexp_matches(x,
               '^(utm_[^=]*|gclid|fbclid)(=.*)?$'))), '&'), '') AS qs
           FROM c),
         k AS (SELECT doc_id,
           lower(regexp_extract(path, '^([A-Za-z]+)://', 1)) || '://' ||
           regexp_replace(
             lower(regexp_extract(path, '^[A-Za-z]+://([^/]+)', 1)),
             ':80$', '') ||
           regexp_replace(
             coalesce(regexp_extract(path,
               '^[A-Za-z]+://[^/]+(/.*)?$', 1), ''), '/$', '') ||
           CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canon
           FROM q)
         SELECT canon, MIN(doc_id) AS keep_doc,
           COUNT(*) AS n_variants
         FROM k GROUP BY canon""",

    "dedup_tokenset" ->
      s"""SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
          FROM documents
          GROUP BY array_to_string(list_sort(list_distinct($Toks)), ' ')""",

    "dedup_minhash" -> minhashOracle,

    // Bloom gate replay: a batch doc's bloom_hit is true iff ALL k of
    // its double-hashed bit positions appear in the corpus's distinct
    // position set — exactly the bitmap's semantics, false positives
    // included. bool_and over a left join = the all-bits-set test.
    "dedup_bloom" -> bloomGateOracle,

    // the composed front door: the three gate-leg oracles joined —
    // composition itself hash-verified
    "pipeline_ingest_gates" ->
      s"""WITH bl AS (SELECT * FROM ($bloomGateOracle)),
         mh AS (SELECT * FROM ($minhashIndexFlagsOracle)),
         em AS (SELECT * FROM (${embedAnnFlagsOracleSql(probes = 4)}))
         SELECT bl.doc_id, bl.exact_dup,
           mh.near_dup AS nd_text, mh.best_jaccard,
           em.near_dup AS nd_embed, em.best_cos,
           (NOT bl.exact_dup AND NOT mh.near_dup AND NOT em.near_dup)
             AS admit
         FROM bl JOIN mh ON bl.doc_id = mh.doc_id
                 JOIN em ON bl.doc_id = em.vec_id""",
    // both names of the short-circuited front door (one code path)
    "pipeline_ingest_gates_fast" -> IngestGatesFastOracle,
    "pipeline_ingest_gates_composed" -> IngestGatesFastOracle,
    // the persisted gate serves bit-identical verdicts from the
    // committed bitmap — sharing the oracle verbatim IS the check
    "dedup_bloom_index" -> bloomGateOracle,

    // stateful exact gate: corpus-key membership OR a same-key batch
    // row with a smaller id (the selfMaintain first-occurrence rule)
    "dedup_exact_stateful" ->
      s"""WITH keyed AS (
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct($Toks)),
                       ' ')) AS key
            FROM documents)
          SELECT doc_id,
                 key IN (SELECT key FROM keyed WHERE doc_id % 20 <> 0)
                   OR doc_id > min(doc_id) OVER (PARTITION BY key)
                   AS exact_dup
          FROM keyed WHERE doc_id % 20 = 0""",

    // the stateful candidate route is hash-verified against the join
    // route: both flags queries share ONE oracle verbatim
    "dedup_minhash_stateful" -> minhashIndexFlagsOracle,
    "dedup_embed_ann_stateful" -> embedAnnFlagsOracleSql(probes = 4),

    // Two-sided variant: the incoming batch (doc_id % 20 = 0) vs the
    // full corpus; every (batch, corpus) band co-occurrence kept (no
    // id_a < id_b — mirrors minhashJoinPairs' ordered=false).
    "dedup_incremental" -> minhashOracleFrom(Word3Ctes,
      JaccardThreshold, pairCond = "a.doc_id % 20 = 0"),

    "dedup_minhash_index" -> minhashIndexOracle,
    // the append path must be invisible to results: a build+append
    // index replays as a one-shot full build — sharing the oracle
    // verbatim IS the frozen-params equivalence check
    "dedup_minhash_index_append" -> minhashIndexOracle,
    "dedup_minhash_index_flags" -> minhashIndexFlagsOracle,
    "dedup_ngram_index" -> minhashIndexOracleFrom(Char5Ctes, 0.7,
      numHashes = 64, nBands = 8),
    "dedup_ngram_index_flags" -> minhashIndexFlagsOracleFrom(
      Char5Ctes, 64, 8, 0.5, 0.7),
    // index-served pair mining must EQUAL the corpus-mining legs:
    // sharing dedup_minhash's / dedup_ngram's oracles verbatim IS the
    // equality check
    "dedup_minhash_index_pairs" -> minhashOracle,
    "dedup_ngram_index_pairs" -> minhashOracleFrom(Char5Ctes, 0.7,
      numHashes = 64, nBands = 8),
    // ...and so must the index-fed groups/survivors chain: same
    // pairs -> same components -> same survivors
    "dedup_groups_index" -> dedupGroupsOracle,
    "dedup_survivors_index" -> dedupSurvivorsOracle,
    // ...and the incremental fold: build 2/3 + append 1/3 + super-node
    // merge must equal the full re-mine + CC — and the survivor pick
    // over the at-rest groups must equal the mining leg's
    "dedup_groups_incremental" -> dedupGroupsOracle,
    "dedup_survivors_incremental" -> dedupSurvivorsOracle,

    "dedup_ngram" -> minhashOracleFrom(Char5Ctes, 0.7,
      numHashes = 64, nBands = 8),

    "dedup_groups" -> dedupGroupsOracle,

    // Survivors: longest text per group (ties -> min doc_id),
    // singletons survive trivially; group labels from the recursive
    // CTE above.
    "dedup_survivors" -> dedupSurvivorsOracle,

    "dedup_simhash" -> simhashOracle,

    // 64-bit wrapping polynomial hash h = h*B + byte, emulated with
    // 128-bit HUGEINT + explicit mod 2^64 and a signed reinterpretation
    // at the end. Codepoints == bytes only for ASCII; the sf corpus is
    // ASCII (verified), non-ASCII coverage lives in ScalaTest.
    "text_rollhash" ->
      s"""SELECT doc_id,
          CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
                    THEN h - 18446744073709551616::HUGEINT
                    ELSE h END AS BIGINT) AS rh
          FROM (SELECT doc_id,
            list_reduce(
              list_prepend(0::HUGEINT,
                [unicode(c)::HUGEINT FOR c IN string_split($NormText, '')
                 IF c != '']),
              (a, x) -> (a * ${graft.ext.RollingHash64.Base} + x)
                        % 18446744073709551616::HUGEINT) AS h
            FROM documents)""",

    // Mirrors Similarity.cosinePairsLsh: planes = first bands*rows
    // corpus vectors, band key j = bitmask of dot signs over its
    // rowsPerBand planes, candidates from the band self-join, exact
    // cosine on candidates only. Same double-fold dot product on both
    // engines → identical sign thresholds → identical buckets.
    "dedup_embed" ->
      s"""WITH v AS (SELECT vec_id, $VecD AS v FROM embeddings),
          pl AS (SELECT vec_id AS pid, v AS pv FROM v
                 WHERE vec_id < ${EmbedBands * EmbedRowsPerBand}),
          bits AS (SELECT a.vec_id, p.pid,
                   CASE WHEN ${dotSql("a.v", "p.pv")} > 0
                        THEN (1::BIGINT << (p.pid % $EmbedRowsPerBand))
                        ELSE 0::BIGINT END AS bit
                   FROM v a CROSS JOIN pl p),
          bands AS (SELECT vec_id, pid // $EmbedRowsPerBand AS band,
                    SUM(bit) AS bk FROM bits GROUP BY 1, 2),
          cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                   FROM bands a JOIN bands b
                   ON a.band = b.band AND a.bk = b.bk
                      AND a.vec_id < b.vec_id),
          n AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM v)
          SELECT id_a, id_b, round(cs, 6) AS cos FROM (
            SELECT id_a, id_b,
              ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cs
            FROM cand JOIN n a ON cand.id_a = a.vec_id
                      JOIN n b ON cand.id_b = b.vec_id)
          WHERE cs >= $CosineThreshold""",

    // ANN-assisted replay: the index quantizer over the first
    // max(16, N/125) vectors (the capacity-bounded scaling rule),
    // probe assignment (flat rank, or the two-level supers-then-
    // children hierarchy for the _2level leg; every tie to the
    // smaller id), candidates are probe-probe co-occurrences
    // (multi-probe BOTH sides), exact cosine verify
    "dedup_embed_ann" -> embedAnnOracleSql(probes = 4, superProbes = 0),
    "dedup_embed_ann_p8" ->
      embedAnnOracleSql(probes = 8, superProbes = 0),
    "dedup_embed_ann_2level" ->
      embedAnnOracleSql(probes = 4, superProbes = 3),
    "dedup_embed_ann_flags" -> embedAnnFlagsOracleSql(probes = 4),
    "dedup_embed_ann_groups" ->
      ccOracle(embedAnnOracleSql(probes = 4, superProbes = 0),
        "vec_id"),
    // the index-served flavor shares the mining leg's oracle verbatim
    // — that sharing IS the equality check
    "dedup_embed_ann_groups_index" ->
      ccOracle(embedAnnOracleSql(probes = 4, superProbes = 0),
        "vec_id"),

    // SemDeDup mirror: cell assignment is the sim_ann_ivf quantizer
    // verbatim (argmax dot, row_number ties to the smaller cell);
    // drops replay the same earlier-priority-clustermate rule over
    // bit-identical dot folds.
    "dedup_semantic" ->
      s"""WITH v AS (SELECT vec_id, $VecD AS v FROM embeddings),
          c AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 16),
          d AS (SELECT a.vec_id, a.v, c.cid,
                ${dotSql("a.v", "c.cv")} AS dp FROM v a CROSS JOIN c),
          cell AS (SELECT vec_id, v, cid FROM (
            SELECT vec_id, v, cid,
              row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dp DESC, cid) AS rn
            FROM d) WHERE rn = 1),
          pri AS (SELECT cell.vec_id, cell.cid, cell.v,
                ${dotSql("cell.v", "c2.cv")} /
                  (${normSql("cell.v")} * ${normSql("c2.cv")}) AS cs
              FROM cell JOIN c c2 ON cell.cid = c2.cid),
          drp AS (SELECT DISTINCT a.vec_id FROM pri a JOIN pri b
                ON a.cid = b.cid AND a.vec_id <> b.vec_id
                WHERE (b.cs < a.cs OR (b.cs = a.cs AND b.vec_id < a.vec_id))
                  AND ${dotSql("a.v", "b.v")} /
                    (${normSql("a.v")} * ${normSql("b.v")})
                    >= $CosineThreshold)
          SELECT p.vec_id, p.cid AS cell, round(p.cs, 6) AS centroid_sim,
                 (dr.vec_id IS NULL) AS kept
          FROM pri p LEFT JOIN drp dr ON p.vec_id = dr.vec_id""",

    // Mirrors Similarity.knnJoin: same banding as dedup_embed, but the
    // candidate join keeps ALL (qid, cid) co-occurrences (no id_a <
    // id_b — unrelated id spaces), then row_number per qid with the
    // cid tie-break keeps k=5. The guaranteed-k fallback is mirrored
    // too: qids with < 5 banded candidates are re-answered entirely by
    // exact brute-force top-5 (knnJoin's `starved` leg).
    "sim_knn_join" -> KnnJoinSql,

    // Recall replay: the approx leg is the knnJoin oracle verbatim (a
    // nested-WITH subquery), the truth leg re-ranks exact cosine with
    // the same tie-break; hit counts stay integers end to end.
    "sim_recall_eval" ->
      s"""WITH approx AS (SELECT qid, cid FROM ($KnnJoinSql)),
          v AS (SELECT vec_id, $VecD AS v FROM embeddings),
          n AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM v),
          q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n
                WHERE vec_id % 50 = 0),
          scored AS (SELECT q.qid, n.vec_id AS cid,
                     ${dotSql("q.qv", "n.v")} / (q.qn * n.nrm) AS cs
                     FROM n CROSS JOIN q),
          exact AS (SELECT qid, cid FROM (
                     SELECT qid, cid, row_number() OVER (
                       PARTITION BY qid ORDER BY cs DESC, cid) AS r
                     FROM scored) WHERE r <= 5),
          hits AS (SELECT a.qid, count(*) AS h
                   FROM approx a JOIN exact e
                     ON a.qid = e.qid AND a.cid = e.cid
                   GROUP BY 1)
          SELECT q.qid, COALESCE(h.h, 0) AS n_hits
          FROM q LEFT JOIN hits h USING (qid)""",

    // Majority vote over the PROVEN k-NN join (same SQL, composed):
    // ties -> smaller label, mirroring the Spark row_number order.
    "sim_knn_classify" ->
      s"""WITH knn AS (SELECT * FROM ($KnnJoinSql) t),
          lab AS (SELECT k.qid, e.label
                  FROM knn k JOIN embeddings e ON k.cid = e.vec_id),
          votes AS (SELECT qid, label, count(*) AS votes
                    FROM lab GROUP BY qid, label),
          best AS (SELECT qid, label, votes,
                   row_number() OVER (PARTITION BY qid
                     ORDER BY votes DESC, label) AS rn FROM votes)
          SELECT qid, label AS pred_label, votes FROM best
          WHERE rn = 1""",

    // Same quantization CTE as sim_quantize, then integer-exact
    // per-(label, dim) means; SUM(code) cast back to BIGINT (DuckDB
    // widens to HUGEINT).
    "embed_centroids" ->
      s"""WITH v AS (SELECT vec_id, label, $VecD AS v FROM embeddings),
          sc AS (SELECT vec_id, label, v,
                 greatest(list_max(v), -list_min(v)) AS s FROM v),
          e AS (SELECT label,
                unnest(range(len(v))) AS dim,
                unnest([CAST(CASE WHEN s = 0 THEN 0
                             ELSE round(127 * x / s) END
                        AS TINYINT) FOR x IN v]) AS c
                FROM sc)
          SELECT label, CAST(dim AS INTEGER) AS dim,
            CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) / COUNT(*) AS centroid
          FROM e GROUP BY label, dim""",

    // Mirrors pqTopK end to end, TRAINING INCLUDED: the generated CTE
    // chain replays the int8 quantization, 3 unrolled integer-Lloyd
    // rounds (argmin by sc DESC/c tie-break, round-to-nearest integer
    // means, empty cells keep their centroid), then the raw-query ADC
    // with the int8-norm denominator and the fixed-order pivot sum.
    "sim_pq" -> PqOracleSql,
    "sim_ann_ivfpq" -> pqOracleSqlGen(true),
    // the persisted lifecycle is hash-identical to the retrain path
    // by construction (AnnIndexSpec pins it), so it replays the SAME
    // train-prune-scan-rescore oracle
    "sim_ann_ivfpq_persisted" -> pqOracleSqlGen(true),
    // build-on-first-256 + frozen-quantizer append: training CTEs see
    // only vec_id < 256, encode/probe/rescore stay corpus-wide
    "sim_ann_ivfpq_append" -> pqOracleSqlGen(true, "vec_id < 256"),
    // batch serve: the same replay, qid-keyed over the 10-query batch
    "sim_ann_ivfpq_batch" ->
      pqBatchOracleSql("vec_id % 50 = 0 AND vec_id < 500"),
    // the distributed batch serve is row-identical to searchBatch by
    // construction (same folds, same windows — pinned in
    // AnnIndexSpec), so it replays the same qid-keyed oracle
    "sim_ann_ivfpq_batch_dist" ->
      pqBatchOracleSql("vec_id % 50 = 0 AND vec_id < 500"),

    // Mirrors QuantizeI8: scale = max |x| (greatest over list_max and
    // -list_min of the exactly-widened doubles), code = round(127*x/s)
    // — DuckDB round on DOUBLE is ties-away-from-zero, same as the
    // expression's floor/ceil formulation. Exploded to scalar
    // (vec_id, pos, code) rows — DuckDB zips multiple unnests in the
    // same SELECT positionally, mirroring Spark's posexplode.
    "sim_quantize" ->
      s"""WITH v AS (SELECT vec_id, $VecD AS v FROM embeddings),
          sc AS (SELECT vec_id, v,
                 greatest(list_max(v), -list_min(v)) AS s FROM v),
          e AS (SELECT vec_id,
                unnest(range(len(v))) AS pos,
                unnest([CAST(CASE WHEN s = 0 THEN 0
                             ELSE round(127 * x / s) END
                        AS TINYINT) FOR x IN v]) AS code
                FROM sc)
          SELECT vec_id, CAST(pos AS INT) AS pos, code FROM e""",

    "sim_ann_quantized" ->
      s"""WITH v AS (SELECT vec_id, $VecD AS v FROM embeddings),
          sc AS (SELECT vec_id, v,
                 greatest(list_max(v), -list_min(v)) AS s FROM v),
          qz AS (SELECT vec_id,
                 [CAST(CASE WHEN s = 0 THEN 0 ELSE round(127 * x / s) END
                       AS DOUBLE) FOR x IN v] AS qv
                 FROM sc),
          q AS (SELECT qv AS q FROM qz WHERE vec_id = 0)
          SELECT vec_id, round(sc2, 6) AS score FROM (
            SELECT z.vec_id,
              ${dotSql("z.qv", "q.q")} /
                (${normSql("z.qv")} * ${normSql("q.q")}) AS sc2
            FROM qz z CROSS JOIN q)
          ORDER BY sc2 DESC, vec_id LIMIT 10""",

    "sim_ann_lsh" ->
      s"""WITH v AS (SELECT vec_id, $VecD AS v FROM embeddings),
          pl AS (SELECT vec_id AS pid, v AS pv FROM v WHERE vec_id < 8),
          q AS (SELECT v AS qv FROM v WHERE vec_id = 0),
          bk AS (SELECT a.vec_id,
                 CAST(SUM(CASE WHEN ${dotSql("a.v", "p.pv")} > 0
                          THEN (1::BIGINT << p.pid) ELSE 0 END) AS BIGINT)
                   AS bucket
                 FROM v a CROSS JOIN pl p GROUP BY a.vec_id),
          qb AS (SELECT bucket AS qbucket FROM bk WHERE vec_id = 0),
          cand AS (SELECT v.vec_id, v.v FROM v
                   JOIN bk ON v.vec_id = bk.vec_id CROSS JOIN qb
                   WHERE bit_count(xor(bk.bucket, qb.qbucket)) <= 2)
          SELECT vec_id, round(s, 6) AS score FROM (
            SELECT c.vec_id,
              ${dotSql("c.v", "q.qv")} /
                (${normSql("c.v")} * ${normSql("q.qv")}) AS s
            FROM cand c CROSS JOIN q)
          ORDER BY s DESC, vec_id LIMIT 10""",

    "sim_ann_ivf" ->
      s"""WITH v AS (SELECT vec_id, $VecD AS v FROM embeddings),
          c AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 16),
          q AS (SELECT v AS qv FROM v WHERE vec_id = 0),
          d AS (SELECT a.vec_id, a.v, c.cid,
                ${dotSql("a.v", "c.cv")} AS dp FROM v a CROSS JOIN c),
          cell AS (SELECT vec_id, v, cid FROM (
            SELECT vec_id, v, cid,
              row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dp DESC, cid) AS rn
            FROM d) WHERE rn = 1),
          qc AS (SELECT c.cid FROM c CROSS JOIN q
                 ORDER BY ${dotSql("q.qv", "c.cv")} DESC, c.cid LIMIT 2)
          SELECT vec_id, round(s, 6) AS score FROM (
            SELECT cell.vec_id,
              ${dotSql("cell.v", "q.qv")} /
                (${normSql("cell.v")} * ${normSql("q.qv")}) AS s
            FROM cell JOIN qc ON cell.cid = qc.cid CROSS JOIN q)
          ORDER BY s DESC, vec_id LIMIT 10""",

    // same left-to-right folds over the SAME element order; v[-i]
    // pairs element i with its mirror (1-based index lambda)
    "array_hof" ->
      s"""WITH v AS (SELECT vec_id, $VecD AS v FROM embeddings)
          SELECT vec_id,
            list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(v, x -> x * x)), (a, x) -> a + x) AS norm2,
            CAST(len(list_filter(v, x -> x > 0)) AS INTEGER) AS n_pos,
            list_aggregate(list_transform(v, x -> abs(x)), 'max')
              AS max_abs,
            list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(v, (x, i) -> x * v[-i])), (a, x) -> a + x)
              AS self_rev_dot
          FROM v""",

    // Norm² replays the same elementwise-double fold; the SUM leg is
    // quantized to integer micro-units via floor(n2 * 1e6) — one IEEE
    // multiply + exact floor, spelled identically to the Spark side,
    // so no engine-discretionary double→decimal cast survives in the
    // hash path (r9's only red came from exactly that seam). min/max
    // stay raw doubles like the green sim_* queries.
    "profile_embeddings" ->
      s"""WITH e AS (SELECT label, len(embedding) AS dim,
             ${dotSql("v", "v")} AS n2
           FROM (SELECT label, embedding, $VecD AS v FROM embeddings))
         SELECT label, count(*) AS n_vectors,
           count(DISTINCT dim) AS n_dims,
           MIN(n2) AS min_norm2, MAX(n2) AS max_norm2,
           CAST(SUM(CAST(FLOOR(n2 * 1000000.0) AS BIGINT)) AS BIGINT)
             AS sum_norm2_micro
         FROM e GROUP BY label""",

    // MMR replay: 5 unrolled greedy steps; every constant is written
    // exactly as the Scala side computes it ((1.0 - 0.7), not 0.3 —
    // they are DIFFERENT doubles) and every cosine goes through the
    // same elementwise-double fold, so argmax ties cannot flip.
    "sim_mmr" -> {
      def sim(a: String, b: String) =
        s"${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)})"
      val steps = (2 to 5).map { i =>
        val priors = (1 until i).map(j => s"sel$j s$j").mkString(", ")
        val notIn = (1 until i).map(j => s"s$j.vec_id").mkString(", ")
        val sims = (1 until i).map(j => sim("c.v", s"s$j.v"))
        val pen = if (sims.length == 1) sims.head
          else s"GREATEST(${sims.mkString(", ")})"
        s"""sel$i AS (SELECT vec_id, v, rel, mmr FROM (
             SELECT c.vec_id, c.v, c.rel,
               0.7 * c.rel - (1.0 - 0.7) * ($pen) AS mmr
             FROM cand c, $priors
             WHERE c.vec_id NOT IN ($notIn))
           ORDER BY mmr DESC, vec_id LIMIT 1)"""
      }.mkString(",\n")
      val out = (1 to 5).map(i =>
        s"""SELECT CAST($i AS BIGINT) AS rank, vec_id,
            round(rel, 6) AS rel, round(mmr, 6) AS mmr FROM sel$i""")
        .mkString("\nUNION ALL\n")
      s"""WITH q AS (SELECT $VecD AS qv FROM embeddings WHERE vec_id = 0),
         s AS (SELECT vec_id, $VecD AS v FROM embeddings
               WHERE vec_id <> 0),
         cand AS (SELECT vec_id, v, rel FROM (
             SELECT vec_id, v, ${sim("v", "qv")} AS rel
             FROM s CROSS JOIN q)
           ORDER BY rel DESC, vec_id LIMIT 20),
         sel1 AS (SELECT vec_id, v, rel,
             0.7 * rel - (1.0 - 0.7) * 0.0 AS mmr FROM cand
           ORDER BY mmr DESC, vec_id LIMIT 1),
         $steps
         $out"""
    },

    "sim_topk" ->
      s"""WITH q AS (SELECT $VecD AS qv FROM embeddings WHERE vec_id = 0),
          s AS (SELECT vec_id, $VecD AS v FROM embeddings)
          SELECT vec_id, round(score_raw, 6) AS score FROM (
            SELECT vec_id,
              ${dotSql("v", "qv")} / (${normSql("v")} * ${normSql("qv")})
                AS score_raw
            FROM s, q)
          ORDER BY score_raw DESC, vec_id LIMIT 10""",

    "text_stats" ->
      s"""SELECT doc_id,
          len(ws) AS n_tokens,
          len(list_distinct(ws)) AS n_uniq,
          len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
            AS n_bpeish,
          CASE WHEN len(ws) = 0 THEN 0.0
            ELSE CAST(list_sum([length(t) FOR t IN ws]) AS DOUBLE) / len(ws)
          END AS avg_len,
          CASE WHEN len(ws) = 0 THEN 0.0
            ELSE CAST(len([t FOR t IN ws
              IF list_contains(['the','a','of','and','in','to','is','on'], t)])
              AS DOUBLE) / len(ws) END AS stop_ratio,
          (least(CAST(len(ws) AS DOUBLE) / 100.0, 1.0) * 0.4
           + CAST(len(list_distinct(ws)) AS DOUBLE)
             / CAST(greatest(len(ws), 1) AS DOUBLE) * 0.3
           + (1.0 - CASE WHEN len(ws) = 0 THEN 0.0
               ELSE CAST(len([t FOR t IN ws
                 IF list_contains(['the','a','of','and','in','to','is','on'], t)])
                 AS DOUBLE) / len(ws) END) * 0.3) AS quality
          FROM (SELECT doc_id, text, $Toks AS ws FROM documents)""",

    "text_quality" ->
      s"""WITH w AS (SELECT doc_id, $Toks AS ws FROM documents),
          q AS (SELECT doc_id, $GopherSignalsSql FROM w)
          SELECT doc_id, mwl AS mean_word_len, sym AS symbol_ratio,
            alpha AS alpha_frac, nstop AS n_stop_distinct,
            $GopherGqSql AS gq
          FROM q""",

    // weightedKeep with the Gopher composite as the weight: same md5
    // uniform as sample_weighted, salt 'graftq', rate 0.5 -> 500000.
    "sample_quality" ->
      s"""WITH w AS (SELECT doc_id, lang, source, $Toks AS ws
                     FROM documents),
          q AS (SELECT doc_id, lang, source, $GopherSignalsSql FROM w)
          SELECT doc_id, lang, source FROM q
          WHERE ('0x' || substr(md5('graftq' || doc_id), 1, 8))::BIGINT
                  % 1000000
            < $GopherGqSql * 500000.0""",

    "text_langid" ->
      s"""SELECT doc_id,
          CASE
            WHEN s_eng >= s_db AND s_eng >= s_ml THEN 'eng'
            WHEN s_db >= s_ml THEN 'db'
            ELSE 'ml' END AS pred_lang
          FROM (SELECT doc_id,
            len([t FOR t IN ws IF list_contains(
              ['the','a','big','small','fast','slow'], t)]) AS s_eng,
            len([t FOR t IN ws IF list_contains(
              ['query','table','join','sort','merge','scan'], t)]) AS s_db,
            len([t FOR t IN ws IF list_contains(
              ['spark','vector','stream','batch','data'], t)]) AS s_ml
            FROM (SELECT doc_id, $Toks AS ws FROM documents))""",

    "text_fingerprint" ->
      s"SELECT doc_id, md5($NormText) AS fp FROM documents",

    "text_pii" -> {
      // Same regex strings as the Spark side (RE2-safe subset), same
      // planted-PII construction, same redaction order.
      val em = TextAnalysis.EmailRe
      val ip = TextAnalysis.Ipv4Re
      val ssn = TextAnalysis.SsnRe
      val ph = TextAnalysis.PhoneRe
      val piiText =
        """text || ' contact user' || doc_id || '@mail.example.com or ' ||
           (doc_id % 900 + 100) || '-' || ((doc_id*7) % 900 + 100) || '-' ||
           ((doc_id*13) % 9000 + 1000) ||
           ' ip 10.' || (doc_id % 256) || '.0.' || ((doc_id*3) % 256) ||
           ' ssn ' || (doc_id % 900 + 100) || '-' || (doc_id % 90 + 10) ||
           '-' || ((doc_id*11) % 9000 + 1000)"""
      s"""WITH p AS (SELECT doc_id, $piiText AS t FROM documents)
          SELECT doc_id,
            len(regexp_extract_all(t, '$em')) AS n_email,
            len(regexp_extract_all(t, '$ip')) AS n_ip,
            len(regexp_extract_all(t, '$ssn')) AS n_ssn,
            len(regexp_extract_all(t, '$ph')) AS n_phone,
            md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
              '$em', '<EMAIL>', 'g'),
              '$ip', '<IP>', 'g'),
              '$ssn', '<SSN>', 'g'),
              '$ph', '<PHONE>', 'g')) AS red_fp
          FROM p"""
    },

    "text_repetition" ->
      s"""WITH w AS (SELECT doc_id, $Toks AS ws FROM documents),
          g AS (SELECT doc_id, len(ws) AS n_tokens,
                [ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))] AS gs
                FROM w),
          gs AS (SELECT doc_id, n_tokens,
                 CASE WHEN len(gs) = 0 THEN 0.0
                   ELSE 1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs)
                 END AS dup2_frac FROM g),
          tk AS (SELECT doc_id, t, count(*) AS c FROM
                 (SELECT doc_id, unnest(ws) AS t FROM w) GROUP BY 1, 2),
          tr AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c)
                   AS top_tok_ratio FROM tk GROUP BY 1)
          SELECT gs.doc_id, n_tokens, dup2_frac, top_tok_ratio
          FROM gs JOIN tr ON gs.doc_id = tr.doc_id""",

    // RAKE replay: same running-stopword-count segment ids (the
    // window's default RANGE frame matches Spark's — pos is unique
    // per doc), same deg·10⁶ // freq micro-unit word scores
    // (non-negative, floor == trunc), phrase text assembled in pos
    // order, identical-phrase dedup, (score desc, phrase) top-3.
    "text_rake" ->
      s"""WITH tok AS (SELECT doc_id, unnest(ws) AS w,
             generate_subscripts(ws, 1) - 1 AS pos
           FROM (SELECT doc_id, $Toks AS ws FROM documents)),
         sg AS (SELECT doc_id, pos, w,
             w IN ($StopsSql) AS is_stop,
             sum(CASE WHEN w IN ($StopsSql) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS ph
           FROM tok),
         nw AS (SELECT doc_id, ph, pos, w FROM sg WHERE NOT is_stop),
         pl AS (SELECT doc_id, ph, count(*) AS plen FROM nw
           GROUP BY 1, 2),
         occ AS (SELECT nw.doc_id, nw.ph, nw.pos, nw.w, pl.plen
           FROM nw JOIN pl ON nw.doc_id = pl.doc_id AND nw.ph = pl.ph),
         wsc AS (SELECT doc_id, w,
             CAST(sum(plen) * 1000000 // count(*) AS BIGINT) AS wscore
           FROM occ GROUP BY 1, 2),
         ps AS (SELECT o.doc_id, o.ph,
             CAST(sum(wscore) AS BIGINT) AS score,
             string_agg(o.w, ' ' ORDER BY o.pos) AS phrase
           FROM occ o JOIN wsc ON o.doc_id = wsc.doc_id AND o.w = wsc.w
           GROUP BY 1, 2),
         pd AS (SELECT doc_id, phrase, max(score) AS score_micro,
             count(*) AS n_occ FROM ps GROUP BY 1, 2),
         rk AS (SELECT doc_id, phrase, score_micro, n_occ,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY score_micro DESC, phrase) AS rn FROM pd)
         SELECT doc_id, CAST(rn AS BIGINT) AS rake_rank, phrase,
           score_micro, n_occ
         FROM rk WHERE rn <= 3""",

    // Same adjacency bigrams (doc-partitioned lead over [a-z]+
    // positions — the text_lm_kn idiom), same HUGEINT lift product,
    // same support floor and unique (lift desc, w1, w2) order.
    "text_collocations" ->
      """WITH tok AS (SELECT doc_id, unnest(ws) AS w,
             unnest(generate_series(1, len(ws))) AS pos
           FROM (SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z]+') AS ws
                 FROM documents)),
         big AS (SELECT w1, w2, count(*) AS c12 FROM (
             SELECT w AS w1,
                    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
             FROM tok) WHERE w2 IS NOT NULL GROUP BY 1, 2),
         uni AS (SELECT w AS u, count(*) AS cu FROM tok GROUP BY 1),
         nt AS (SELECT count(*) AS nt FROM tok)
         SELECT b.w1, b.w2, CAST(b.c12 AS BIGINT) AS c12,
           CAST(b.c12::HUGEINT * nt.nt * 1000000
                // (u1.cu::HUGEINT * u2.cu) AS BIGINT) AS lift_micro
         FROM big b JOIN uni u1 ON b.w1 = u1.u
           JOIN uni u2 ON b.w2 = u2.u CROSS JOIN nt
         WHERE b.c12 >= 5
         ORDER BY lift_micro DESC, w1, w2 LIMIT 25""",

    "vocab_topk" ->
      s"""WITH tk AS (SELECT doc_id, unnest($Toks) AS term FROM documents)
          SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
          FROM tk GROUP BY term
          ORDER BY tf DESC, term LIMIT 50""",

    "search_and" ->
      s"""WITH tk AS (SELECT doc_id, unnest($Toks) AS t FROM documents)
          SELECT doc_id FROM tk
          WHERE t IN ('spark', 'join', 'window')
          GROUP BY doc_id
          HAVING count(DISTINCT t) = 3""",

    // KMV distinct replay: the k-th smallest distinct 60-bit hash per
    // lang drives the same (k-1)·2^60/h_(k) estimator; 127·2^60 is
    // dyadic (exact product), then one IEEE divide + exact floor.
    "approx_distinct_kmv" ->
      s"""WITH tl AS (SELECT lang, unnest($Toks) AS tok FROM documents),
          dt AS (SELECT DISTINCT lang, tok FROM tl),
          h AS (SELECT DISTINCT lang,
                  ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
                FROM dt),
          rk AS (SELECT lang, h,
                   row_number() OVER (PARTITION BY lang ORDER BY h)
                     AS rn,
                   count(*) OVER (PARTITION BY lang) AS nh
                 FROM h),
          est AS (SELECT lang,
                    CAST(CASE WHEN max(nh) < 128 THEN max(nh)
                      ELSE CAST(floor(127.0 * 1152921504606846976.0 /
                        CAST(max(CASE WHEN rn = 128 THEN h END)
                          AS DOUBLE)) AS BIGINT) END AS BIGINT)
                      AS est_distinct
                  FROM rk GROUP BY lang)
          SELECT e.lang, e.est_distinct,
            (SELECT count(DISTINCT tok) FROM dt
             WHERE dt.lang = e.lang) AS exact_distinct
          FROM est e""",

    // KMV replay: hash order is total (distinct md5 hex per lang), so
    // the k-smallest truncations are engine-independent.
    "approx_jaccard_kmv" ->
      s"""WITH tl AS (SELECT lang, unnest($Toks) AS tok FROM documents),
          dt AS (SELECT DISTINCT lang, tok FROM tl),
          h AS (SELECT lang, md5(tok) AS h FROM dt),
          sk AS (SELECT lang, h FROM (
                   SELECT lang, h, row_number() OVER (
                     PARTITION BY lang ORDER BY h) AS rn FROM h)
                 WHERE rn <= 64),
          pairs AS (SELECT a.lang AS la, b.lang AS lb
                    FROM (SELECT DISTINCT lang FROM h) a
                    JOIN (SELECT DISTINCT lang FROM h) b
                      ON a.lang < b.lang),
          tagged AS (
            SELECT p.la, p.lb, s.h, 1 AS in_a, 0 AS in_b
            FROM pairs p JOIN sk s ON s.lang = p.la
            UNION ALL
            SELECT p.la, p.lb, s.h, 0, 1
            FROM pairs p JOIN sk s ON s.lang = p.lb),
          merged AS (SELECT la, lb, h, max(in_a) AS a, max(in_b) AS b
                     FROM tagged GROUP BY 1, 2, 3),
          top AS (SELECT * FROM (
                    SELECT *, row_number() OVER (
                      PARTITION BY la, lb ORDER BY h) AS rn
                    FROM merged) WHERE rn <= 64)
          SELECT la, lb, CAST(count(*) AS BIGINT) AS n_sketch,
            CAST(sum(a * b) AS BIGINT) AS n_both,
            CAST(sum(a * b) AS BIGINT) * 10000
              // CAST(count(*) AS BIGINT) AS jaccard_bp
          FROM top GROUP BY 1, 2""",

    // Phrase replay via the bigram list comprehension (1-indexed
    // lists; range(1, len) pairs i with i+1).
    "search_phrase" ->
      s"""WITH w AS (SELECT doc_id, $Toks AS ws FROM documents),
          bg AS (SELECT doc_id,
                 unnest([ws[i] || ' ' || ws[i + 1]
                         FOR i IN range(1, len(ws))]) AS g
                 FROM w)
          SELECT doc_id, count(*) AS n_hits FROM bg
          WHERE g = 'table hash' GROUP BY doc_id""",

    // Mirrors search_bm25's fixed-order arithmetic: same pivoted tf
    // columns, same parenthesization, ln() on both engines.
    "search_bm25" ->
      s"""WITH $Bm25Ctes
          SELECT doc_id, round(score_raw, 6) AS score FROM sc
          ORDER BY score_raw DESC, doc_id LIMIT 10""",

    // RRF replayed exactly: both legs' top-20 ranks under the same
    // (raw score desc, id) total orders their green oracles pin, then
    // integer micro-unit reciprocal ranks — one DIV per leg.
    "search_rrf" ->
      s"""WITH $Bm25Ctes,
          lex AS (SELECT doc_id, CAST(row_number() OVER
              (ORDER BY score_raw DESC, doc_id) AS BIGINT) AS lex_rank
            FROM (SELECT doc_id, score_raw FROM sc
              ORDER BY score_raw DESC, doc_id LIMIT 20)),
          q AS (SELECT $VecD AS qv FROM embeddings WHERE vec_id = 0),
          sv AS (SELECT vec_id, $VecD AS v FROM embeddings),
          vtop AS (SELECT vec_id AS doc_id, vscore FROM (
              SELECT vec_id, ${dotSql("v", "qv")}
                / (${normSql("v")} * ${normSql("qv")}) AS vscore
              FROM sv, q)
            ORDER BY vscore DESC, vec_id LIMIT 20),
          vr AS (SELECT doc_id, CAST(row_number() OVER
              (ORDER BY vscore DESC, doc_id) AS BIGINT) AS vec_rank
            FROM vtop)
          SELECT COALESCE(lex.doc_id, vr.doc_id) AS doc_id,
            CAST(COALESCE(1000000000 // (60 + lex_rank), 0)
               + COALESCE(1000000000 // (60 + vec_rank), 0)
               AS BIGINT) AS rrf,
            lex_rank, vec_rank
          FROM lex FULL OUTER JOIN vr ON lex.doc_id = vr.doc_id
          ORDER BY rrf DESC, doc_id LIMIT 10""",

    // CUSUM replay: identical integer scaling; the HUGEINT window sum
    // casts back to BIGINT to match Spark's long.
    "events_cusum" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                        count(*) AS n FROM events GROUP BY 1, 2),
          tot AS (SELECT event_type, sum(n) AS total, count(*) AS n_days
                  FROM daily GROUP BY 1),
          c AS (SELECT d.event_type, d.day, d.n,
                CAST(sum(d.n * t.n_days - t.total) OVER (
                  PARTITION BY d.event_type ORDER BY d.day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cusum
                FROM daily d JOIN tot t USING (event_type))
          SELECT event_type, day, n, cusum,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY abs(cusum) DESC, day) <= 3 AS flag
          FROM c""",

    "events_rolling_dau" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                     FROM events),
          days AS (SELECT DISTINCT day FROM du),
          e AS (SELECT user_id,
                unnest([day + CAST(i AS INTEGER) FOR i IN range(0, 7)])
                  AS as_of FROM du)
          SELECT as_of, count(DISTINCT user_id) AS dau7
          FROM e
          WHERE as_of IN (SELECT day FROM days)
          GROUP BY as_of""",

    "text_tfidf" ->
      s"""WITH tk AS (SELECT doc_id, unnest($Toks) AS term FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
          df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          n AS (SELECT count(*) AS n_docs FROM documents),
          sc AS (SELECT doc_id, tf.term,
                 round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
                 FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
          SELECT doc_id, term, rn, score FROM (
            SELECT doc_id, term, score,
              row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, term) AS rn
            FROM sc) WHERE rn <= 3""",

    // Rebuilds the d=4 x w=2048 sketch with the same md5-derived
    // double hashing (all operands non-negative -> % == pmod).
    "approx_freq_cms" ->
      s"""WITH tk AS (SELECT unnest($Toks) AS t FROM documents),
          hx AS (SELECT t,
                 ('0x' || substr(md5(t), 1, 8))::BIGINT AS h1,
                 ('0x' || substr(md5(t), 9, 8))::BIGINT AS h2 FROM tk),
          cells AS (SELECT rr.r, (h1 + rr.r * h2) % 4294967311 % 2048 AS c
                    FROM hx, (SELECT unnest(range(0, 4)) AS r) rr),
          sk AS (SELECT r, c, count(*) AS cnt FROM cells GROUP BY r, c),
          top AS (SELECT t, count(*) AS true_cnt FROM tk GROUP BY t
                  ORDER BY true_cnt DESC, t LIMIT 10),
          qc AS (SELECT top.t, top.true_cnt, rr.r,
                 (('0x' || substr(md5(top.t), 1, 8))::BIGINT
                  + rr.r * ('0x' || substr(md5(top.t), 9, 8))::BIGINT)
                   % 4294967311 % 2048 AS c
                 FROM top, (SELECT unnest(range(0, 4)) AS r) rr)
          SELECT qc.t, qc.true_cnt, min(coalesce(sk.cnt, 0)) AS est
          FROM qc LEFT JOIN sk ON qc.r = sk.r AND qc.c = sk.c
          GROUP BY qc.t, qc.true_cnt""",

    // Same d=5 × w=4096 count-sketch (md5 bucket + sign double
    // hashing, all non-negative so % == pmod), HUGEINT cell squares,
    // the same (f2r, r)-ordered exact median of 5.
    "approx_f2_ams" ->
      """WITH hx AS (SELECT
             ('0x' || substr(md5(CAST(l_suppkey AS VARCHAR)), 1, 8))::BIGINT AS h1,
             ('0x' || substr(md5(CAST(l_suppkey AS VARCHAR)), 9, 8))::BIGINT AS h2,
             ('0x' || substr(md5(CAST(l_suppkey AS VARCHAR)), 17, 8))::BIGINT AS h3
           FROM lineitem),
         cl AS (SELECT rr.r,
             (h1 + rr.r * h2) % 4294967311 % 4096 AS c,
             ((h3 + rr.r * h1) % 4294967311 % 2) * 2 - 1 AS s
           FROM hx, (SELECT unnest(range(0, 5)) AS r) rr),
         cells AS (SELECT r, c, sum(s) AS cell FROM cl GROUP BY 1, 2),
         rowest AS (SELECT r, sum(cell::HUGEINT * cell) AS f2r
           FROM cells GROUP BY 1),
         med AS (SELECT CAST(f2r AS BIGINT) AS est_f2 FROM (
             SELECT f2r, row_number() OVER (ORDER BY f2r, r) AS rn
             FROM rowest) WHERE rn = 3),
         ex AS (SELECT count(*) AS n_keys,
             CAST(sum(f::HUGEINT * f) AS BIGINT) AS exact_f2 FROM (
             SELECT count(*) AS f FROM lineitem GROUP BY l_suppkey))
         SELECT CAST(ex.n_keys AS BIGINT) AS n_keys, ex.exact_f2,
           med.est_f2,
           CAST(abs(med.est_f2 - ex.exact_f2) * 10000
                // ex.exact_f2 AS BIGINT) AS err_bp
         FROM ex CROSS JOIN med""",

    "sample_reservoir" ->
      """SELECT doc_id, lang, rn FROM (
           SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5('graftr' || doc_id), doc_id) AS rn
           FROM documents)
         WHERE rn <= 5""",

    "events_winsorize" ->
      """WITH pct AS (SELECT event_type,
             round(quantile_cont(value, 0.05), 6) AS lo,
             round(quantile_cont(value, 0.95), 6) AS hi
           FROM events GROUP BY event_type)
         SELECT e.event_id, e.event_type,
           round(greatest(least(e.value, p.hi), p.lo), 6) AS value_w
         FROM events e JOIN pct p ON e.event_type = p.event_type""",

    "sample_stratified" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE ('0x' || substr(md5('graft' || doc_id), 1, 8))::BIGINT % 100
           < CASE WHEN lang = 'en' THEN 20
                  WHEN lang = 'de' THEN 50 ELSE 80 END""",

    // Poisson-bootstrap replay: same 60-bit uniform, same CDF literal
    // cutoffs, integer sums — CAST pins because DuckDB widens SUM to
    // HUGEINT.
    "sample_bootstrap" ->
      """WITH e AS (SELECT doc_id, lang, n_chars, rep
           FROM documents CROSS JOIN unnest([0, 1]) AS r(rep)),
         m AS (SELECT lang, rep, n_chars,
             CASE WHEN u < 0.36787944117144233 THEN 0
                  WHEN u < 0.7357588823428847 THEN 1
                  WHEN u < 0.9196986029286058 THEN 2
                  WHEN u < 0.9810118431238462 THEN 3
                  ELSE 4 END AS mult
           FROM (SELECT lang, rep, n_chars,
               CAST(('0x' || substr(md5('boot' || CAST(rep AS VARCHAR)
                 || '|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 AS DOUBLE) / 1152921504606846976.0 AS u
             FROM e))
         SELECT rep, lang,
           CAST(sum(mult) AS BIGINT) AS n_resampled,
           CAST(sum(mult * n_chars) AS BIGINT) AS chars_resampled
         FROM m GROUP BY 1, 2""",

    // DSIR replayed exactly: same md5 bucket, same bit_length
    // quantization (length(bin(n)) — integer on both engines), same
    // (w DESC, doc_id) total order.
    "sample_dsir" ->
      s"""WITH tk AS (SELECT doc_id, source = 'src0' AS tgt,
             ('0x' || substr(md5('dsir' || t), 1, 8))::BIGINT % 4096 AS b
           FROM (SELECT doc_id, source, unnest($Toks) AS t
             FROM documents)),
         ft AS (SELECT b,
             SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
             SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr
           FROM tk GROUP BY b),
         tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM ft),
         sc AS (SELECT tk.doc_id,
             SUM(length(bin(ft.ct + 1)) - length(bin(ft.cr + 1))) AS s,
             COUNT(*) AS n, MAX(tk.tgt) AS tgt
           FROM tk JOIN ft USING (b) GROUP BY tk.doc_id)
         SELECT doc_id, CAST(s + n * (length(bin(tr + 4096))
             - length(bin(tt + 4096))) AS BIGINT) AS w
         FROM sc, tot WHERE NOT tgt
         ORDER BY w DESC, doc_id LIMIT 100""",

    // same quality expression as pipeline_filter's (proven green
    // there); one double multiply by 500000.0 mirrors weight*(rate*1e6)
    "sample_weighted" -> {
      val stops = "['the','a','of','and','in','to','is','on']"
      val quality =
        s"""(least(CAST(len(ws) AS DOUBLE) / 100.0, 1.0) * 0.4
            + CAST(len(list_distinct(ws)) AS DOUBLE)
              / CAST(greatest(len(ws), 1) AS DOUBLE) * 0.3
            + (1.0 - CASE WHEN len(ws) = 0 THEN 0.0
                ELSE CAST(len([t FOR t IN ws IF list_contains($stops, t)])
                  AS DOUBLE) / len(ws) END) * 0.3)"""
      s"""WITH w AS (SELECT doc_id, lang, source, $Toks AS ws
                     FROM documents)
          SELECT doc_id, lang, source FROM w
          WHERE ('0x' || substr(md5('graftw' || doc_id), 1, 8))::BIGINT
                  % 1000000
            < $quality * 500000.0"""
    },

    // Domain curation replay: distinct-md5 per source induces the same
    // dup partition as the engine's two-seed xxhash fingerprints; the
    // HUGEINT sums/counts cast to BIGINT for schema parity.
    "curate_domains" ->
      s"""WITH k AS (SELECT doc_id, source, n_chars,
                     md5(array_to_string(
                       list_sort(list_distinct($Toks)), ' ')) AS key
              FROM documents),
          st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(count(*) - count(DISTINCT key) AS BIGINT) AS n_dups,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars
                 FROM k GROUP BY source),
          tc AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
                 CAST(sum(n_dups) AS BIGINT) AS t_dups FROM st)
          SELECT k.doc_id, k.source, st.n_docs, st.n_dups,
                 (st.n_dups * tc.t_docs * 4 <=
                    tc.t_dups * st.n_docs * 5
                  AND st.sum_chars >= st.n_docs * 260
                  AND st.sum_chars <= st.n_docs * 340) AS src_keep
          FROM k JOIN st USING (source) CROSS JOIN tc""",

    "pipeline_filter" -> {
      val stops = "['the','a','of','and','in','to','is','on']"
      val quality =
        s"""(least(CAST(len(ws) AS DOUBLE) / 100.0, 1.0) * 0.4
            + CAST(len(list_distinct(ws)) AS DOUBLE)
              / CAST(greatest(len(ws), 1) AS DOUBLE) * 0.3
            + (1.0 - CASE WHEN len(ws) = 0 THEN 0.0
                ELSE CAST(len([t FOR t IN ws IF list_contains($stops, t)])
                  AS DOUBLE) / len(ws) END) * 0.3)"""
      val dup2 =
        """CASE WHEN len(gs) = 0 THEN 0.0
           ELSE 1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs) END"""
      s"""WITH w AS (SELECT doc_id, $Toks AS ws FROM documents),
          g AS (SELECT doc_id, ws,
                [ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))] AS gs
                FROM w),
          q AS (SELECT doc_id, ws, $quality AS quality, $dup2 AS dup2,
                len([t FOR t IN ws IF list_contains(
                  ['the','a','big','small','fast','slow'], t)]) AS s_eng,
                len([t FOR t IN ws IF list_contains(
                  ['query','table','join','sort','merge','scan'], t)]) AS s_db,
                len([t FOR t IN ws IF list_contains(
                  ['spark','vector','stream','batch','data'], t)]) AS s_ml,
                $GopherSignalsSql
                FROM g),
          q2 AS (SELECT *, $GopherGqSql AS gq FROM q)
          SELECT doc_id,
            CASE WHEN s_eng >= s_db AND s_eng >= s_ml THEN 'eng'
                 WHEN s_db >= s_ml THEN 'db' ELSE 'ml' END AS pred_lang,
            quality, gq
          FROM q2
          WHERE len(ws) BETWEEN 20 AND 5000 AND dup2 <= 0.1
            AND quality >= 0.62 AND gq >= 0.75"""
    },

    "contamination_check" ->
      s"""WITH $Word3Ctes,
          ev AS (SELECT doc_id, unnest(ts) AS shingle FROM sh2
                 WHERE doc_id % 10 = 0),
          tr AS (SELECT DISTINCT shingle FROM
                 (SELECT unnest(ts) AS shingle FROM sh2
                  WHERE doc_id % 10 != 0)),
          tot AS (SELECT doc_id, count(*) AS n_shingles FROM ev
                  GROUP BY 1),
          con AS (SELECT doc_id, count(*) AS n_contam FROM ev
                  WHERE shingle IN (SELECT shingle FROM tr) GROUP BY 1)
          SELECT tot.doc_id, n_shingles,
            coalesce(n_contam, 0) AS n_contam,
            CAST(coalesce(n_contam, 0) AS DOUBLE) / n_shingles
              AS contam_frac
          FROM tot LEFT JOIN con ON tot.doc_id = con.doc_id""",

    // CAST(SUM(bigint)) back to BIGINT: DuckDB widens integer SUM to
    // HUGEINT, which the gate's type-tagged fingerprint reds against
    // Spark's LONG (the r03 lesson).
    "corpus_report" ->
      s"""WITH base AS (SELECT doc_id, lang, source, $Toks AS ws,
             $NormText AS nt FROM documents),
          gs AS (SELECT doc_id, lang, source, len(ws) AS n_tok, nt,
                 $GopherSignalsSql FROM base),
          fl AS (SELECT doc_id, lang, source, n_tok, nt,
                 $GopherGqSql AS gq FROM gs),
          dd AS (SELECT fl.*, CASE WHEN doc_id <> min(doc_id)
                   OVER (PARTITION BY nt) THEN 1 ELSE 0 END AS is_dup
                 FROM fl)
          SELECT lang, source, COUNT(*) AS n_docs,
            CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
            SUM(gq) / COUNT(*) AS avg_gq,
            CAST(SUM(is_dup) AS BIGINT) AS n_dups
          FROM dd
          GROUP BY GROUPING SETS ((lang), (source), (lang, source), ())""",

    // Stage-by-stage mirror of pipeline_curate, assembled from the
    // proven fragments (md5-grouped exact dedup, Gopher signals,
    // 3-gram shingle decontamination, running-sum packing).
    "pipeline_curate" ->
      s"""WITH nrm AS (SELECT doc_id, lang, text, $NormText AS nt
                       FROM documents),
          surv AS (SELECT min(doc_id) AS doc_id FROM nrm GROUP BY nt),
          gt AS (SELECT n.doc_id, n.lang, n.text, $Toks AS ws
                 FROM nrm n JOIN surv USING (doc_id)
                 WHERE n.doc_id % 10 <> 0),
          gs AS (SELECT doc_id, lang, text, ws, $GopherSignalsSql
                 FROM gt),
          train AS (SELECT doc_id, lang, text, ws FROM gs
                    WHERE $GopherGqSql >= 0.75),
          we AS (SELECT doc_id, $Toks AS ws FROM documents
                 WHERE doc_id % 10 = 0),
          she AS (SELECT doc_id,
                  list_distinct([ws[i+1] || ' ' || ws[i+2] || ' ' ||
                    ws[i+3] FOR i IN range(0, greatest(len(ws)-2, 0))])
                    AS ts FROM we),
          evs AS (SELECT DISTINCT unnest(ts) AS shingle FROM she
                  WHERE len(ts) > 0),
          sht AS (SELECT doc_id,
                  list_distinct([ws[i+1] || ' ' || ws[i+2] || ' ' ||
                    ws[i+3] FOR i IN range(0, greatest(len(ws)-2, 0))])
                    AS ts FROM train),
          tr AS (SELECT doc_id, unnest(ts) AS shingle FROM sht
                 WHERE len(ts) > 0),
          nc AS (SELECT doc_id, count(*) AS n_c FROM tr
                 WHERE shingle IN (SELECT shingle FROM evs)
                 GROUP BY doc_id),
          ns AS (SELECT doc_id, count(*) AS n_s FROM tr GROUP BY doc_id),
          bad AS (SELECT ns.doc_id FROM ns LEFT JOIN nc USING (doc_id)
                  WHERE CAST(coalesce(nc.n_c, 0) AS DOUBLE) / ns.n_s
                    > 0.2),
          clean AS (SELECT doc_id, lang, len(ws) AS n_tok,
                    doc_id % 8 AS shard FROM train
                    WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
          c2 AS (SELECT doc_id, lang, n_tok,
                 SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum FROM clean)
          SELECT doc_id, lang, n_tok,
            CAST((cum - n_tok) // 512 AS BIGINT) AS pack_id
          FROM c2""",

    "pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, lang, doc_id % 8 AS shard,
                     len($Toks) AS n_tok FROM documents),
          c AS (SELECT doc_id, lang, shard, n_tok,
                SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cum FROM t)
          SELECT doc_id, lang, shard, n_tok,
            CAST((cum - n_tok) // 512 AS BIGINT) AS pack_id
          FROM c""",

    // PPS replay: DuckDB needs no shard decomposition — ONE global
    // cumsum over the same total order (shard, draw, doc_id) equals
    // the distributed offset+within-shard sum exactly (integer
    // addition is associative).
    "sample_pps" ->
      s"""WITH base AS (SELECT doc_id,
             CAST(len($Toks) AS BIGINT) AS w,
             md5('pps' || CAST(doc_id AS VARCHAR)) AS draw,
             ('0x' || substr(md5('ppsshard' || CAST(doc_id AS VARCHAR)),
               1, 8))::BIGINT % 32 AS shard
           FROM documents),
         c AS (SELECT doc_id, w,
             SUM(w) OVER (ORDER BY shard, draw, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(w) OVER () AS bigw
           FROM base)
         SELECT doc_id, w,
           CAST(LEAST(100, (cum * 100 + bigw - 1) // bigw)
             - LEAST(100, ((cum - w) * 100 + bigw - 1) // bigw)
             AS BIGINT) AS mult
         FROM c
         WHERE LEAST(100, (cum * 100 + bigw - 1) // bigw)
             - LEAST(100, ((cum - w) * 100 + bigw - 1) // bigw) > 0""",

    "pack_report" ->
      s"""WITH t AS (SELECT doc_id, lang, doc_id % 8 AS shard,
                     len($Toks) AS n_tok FROM documents),
         c AS (SELECT doc_id, lang, shard, n_tok,
               SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum FROM t),
         packed AS (SELECT lang, shard, n_tok,
               CAST((cum - n_tok) // 512 AS BIGINT) AS pack_id FROM c),
         bins AS (SELECT lang, shard, pack_id, count(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS fill
             FROM packed GROUP BY 1, 2, 3),
         lb AS (SELECT lang, shard, max(pack_id) AS last_id
             FROM bins GROUP BY 1, 2),
         b2 AS (SELECT bins.*, bins.pack_id = lb.last_id AS open
             FROM bins JOIN lb USING (lang, shard))
         SELECT lang, count(*) AS n_bins,
           CAST(SUM(CASE WHEN open THEN 1 ELSE 0 END) AS BIGINT)
             AS open_bins,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(fill) AS BIGINT) AS tok_total,
           CAST(CASE WHEN count(*) >
               SUM(CASE WHEN open THEN 1 ELSE 0 END)
             THEN SUM(CASE WHEN open THEN 0 ELSE fill END) * 10000
               // ((count(*) -
                   SUM(CASE WHEN open THEN 1 ELSE 0 END)) * 512)
             END AS BIGINT) AS closed_fill_bp
         FROM b2 GROUP BY lang""",

    "graph_pagerank" -> {
      // 10 unrolled power-method steps (no recursive-CTE aggregate
      // restrictions); contribution sums go through DECIMAL(38,18)
      // exactly like PageRank.ranks, so the doubles track the Spark
      // result to ~1e-15 — far inside the 6dp rounding.
      val iters = (1 to 10).map { i =>
        s"""r$i AS (
           SELECT nodes.id,
             (CAST(1.0 AS DOUBLE) - 0.85) / nn.n
               + 0.85 * coalesce(m.mass, CAST(0.0 AS DOUBLE)) AS rank
           FROM nodes CROSS JOIN nn
           LEFT JOIN (
             SELECT e.dst AS dst,
               CAST(SUM(CAST(r.rank / deg.deg AS DECIMAL(38,18)))
                 AS DOUBLE) AS mass
             FROM r${i - 1} r JOIN e ON r.id = e.src
             JOIN deg ON deg.src = e.src
             GROUP BY e.dst) m ON m.dst = nodes.id)"""
      }.mkString(",\n")
      s"""WITH nm AS (SELECT max(doc_id) + 1 AS m FROM documents),
         e AS (SELECT doc_id AS src, (doc_id*2 + 1) % nm.m AS dst
               FROM documents, nm
               UNION ALL
               SELECT doc_id, (doc_id*3 + 7) % nm.m FROM documents, nm),
         deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         nodes AS (SELECT DISTINCT id FROM
           (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         -- the rank normalizer is the GRAPH's node count (exactly
         -- PageRank.ranks' nNodes), NOT the id-space modulus m: the
         -- two only coincide when doc_ids are dense (they diverged
         -- 915x on the derived sf1.0's sparse id blocks)
         nn AS (SELECT count(*) AS n FROM nodes),
         r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / nn.n AS rank
                FROM nodes, nn),
         $iters
         SELECT id AS doc_id, round(rank * nn.n, 6) AS rank_xn
         FROM r10, nn"""
    },

    // Degree-pair histogram over the same synthetic edge construction.
    "graph_degree_dist" ->
      """WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
         e AS (SELECT doc_id AS src, (doc_id*2 + 1) % nn.n AS dst
               FROM documents, nn
               UNION ALL
               SELECT doc_id, (doc_id*3 + 7) % nn.n FROM documents, nn),
         od AS (SELECT src, count(*) AS out_deg FROM e GROUP BY 1),
         idg AS (SELECT dst, count(*) AS in_deg FROM e GROUP BY 1)
         SELECT CAST(coalesce(od.out_deg, 0) AS BIGINT) AS out_deg,
           CAST(coalesce(idg.in_deg, 0) AS BIGINT) AS in_deg,
           count(*) AS n_nodes
         FROM documents d
         LEFT JOIN od ON od.src = d.doc_id
         LEFT JOIN idg ON idg.dst = d.doc_id
         GROUP BY 1, 2""",

    // Mirrors Triangles.triangles: same (degree, id) orientation, same
    // (s, v1 < v2) output convention.
    "graph_triangles" ->
      """WITH docs AS (SELECT doc_id FROM documents),
         nn AS (SELECT max(doc_id) + 1 AS n FROM docs),
         e0 AS (SELECT doc_id AS a, (doc_id * 2 + 1) % (SELECT n FROM nn) AS b
                FROM docs
                UNION ALL
                SELECT doc_id, (doc_id * 3 + 7) % (SELECT n FROM nn)
                FROM docs),
         und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
                 FROM e0 WHERE a <> b),
         deg AS (SELECT x, count(*) AS d FROM
                 (SELECT u AS x FROM und UNION ALL SELECT v FROM und)
                 GROUP BY x),
         ori AS (SELECT
                 CASE WHEN (da.d, u) < (db.d, v) THEN u ELSE v END AS s,
                 CASE WHEN (da.d, u) < (db.d, v) THEN v ELSE u END AS t
                 FROM und JOIN deg da ON u = da.x JOIN deg db ON v = db.x),
         wedge AS (SELECT e1.s, e1.t AS v1, e2.t AS v2 FROM ori e1
                   JOIN ori e2 ON e1.s = e2.s AND e1.t < e2.t)
         SELECT s, v1, v2 FROM wedge w
         WHERE EXISTS (SELECT 1 FROM ori o
                       WHERE (o.s = w.v1 AND o.t = w.v2)
                          OR (o.s = w.v2 AND o.t = w.v1))""",

    // 5 unrolled synchronous LPA rounds — most-frequent neighbour
    // label, ties to the smallest label, exactly LabelPropagation's
    // (cnt DESC, label ASC) window.
    "graph_label_prop" -> {
      val rounds = (1 to 5).map { i =>
        s"""l$i AS (SELECT id, label FROM (
           SELECT e.src AS id, l.label,
             row_number() OVER (PARTITION BY e.src
               ORDER BY count(*) DESC, l.label ASC) AS rn
           FROM e JOIN l${i - 1} l ON e.dst = l.id
           GROUP BY e.src, l.label)
           WHERE rn = 1)"""
      }.mkString(",\n")
      s"""WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
         e0 AS (SELECT doc_id AS src,
                  (doc_id*2 + 1) % (SELECT n FROM nn) AS dst
                FROM documents
                UNION ALL
                SELECT doc_id, (doc_id*3 + 7) % (SELECT n FROM nn)
                FROM documents),
         e AS (SELECT DISTINCT src, dst FROM
           (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
         l0 AS (SELECT DISTINCT src AS id, src AS label FROM e),
         $rounds
         SELECT id AS doc_id, CAST(label AS BIGINT) AS label FROM l5"""
    },

    // 5 unrolled BFS relaxation rounds from doc 0 — min over
    // (previous dists ∪ neighbour dists + 1), exactly Bfs.hops.
    "graph_bfs" -> {
      val rounds = (1 to 5).map { i =>
        s"""d$i AS (SELECT id, min(dist) AS dist FROM (
           SELECT id, dist FROM d${i - 1}
           UNION ALL
           SELECT e.dst AS id, d.dist + 1 AS dist
           FROM d${i - 1} d JOIN e ON e.src = d.id)
           GROUP BY id)"""
      }.mkString(",\n")
      s"""WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
         e0 AS (SELECT doc_id AS src,
                  (doc_id*2 + 1) % (SELECT n FROM nn) AS dst
                FROM documents
                UNION ALL
                SELECT doc_id, (doc_id*3 + 7) % (SELECT n FROM nn)
                FROM documents),
         e AS (SELECT DISTINCT src, dst FROM
           (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
         d0 AS (SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist),
         $rounds
         SELECT id AS doc_id, CAST(dist AS BIGINT) AS dist FROM d5"""
    },

    // Greedy k-center unrolled: per round, argmax of the running
    // min-d² (excluding already-selected ids), then least() against
    // the new center. d² is the same three-dot identity in the same
    // parse tree; list_sum(list_transform) matches DotDouble's left
    // fold bit-for-bit (the proven sim_* seam). Every CTE is
    // MATERIALIZED: each m/c is referenced more than once, and
    // DuckDB's default inlining re-expands the whole chain per
    // reference — exponential (measured: hung at sf0.001; 0.5 s
    // materialized).
    "sample_kcenter" -> {
      def d2 =
        s"((${dotSql("e.embedding", "e.embedding")} + ${dotSql("c.embedding", "c.embedding")}) - (2.0 * ${dotSql("e.embedding", "c.embedding")}))"
      val rounds = (2 to 8).map { r =>
        val excl = (1 until r).map(i => s"SELECT vec_id FROM c$i")
          .mkString(" UNION ALL ")
        val mNext =
          if (r < 8)
            s""",
           m$r AS MATERIALIZED (SELECT m.vec_id, least(m.md, $d2) AS md
             FROM m${r - 1} m JOIN embeddings e ON m.vec_id = e.vec_id,
               c$r c)"""
          else ""
        s"""p$r AS MATERIALIZED (SELECT vec_id, md FROM m${r - 1}
           WHERE vec_id NOT IN ($excl)
           ORDER BY md DESC, vec_id LIMIT 1),
         c$r AS MATERIALIZED (SELECT e.vec_id, e.embedding
           FROM embeddings e JOIN p$r USING (vec_id))$mNext"""
      }.mkString(",\n")
      val sel = (2 to 8).map(r =>
        s"UNION ALL SELECT CAST($r AS BIGINT), vec_id, round(md, 6) FROM p$r")
        .mkString("\n")
      s"""WITH c1 AS MATERIALIZED (SELECT vec_id, embedding
           FROM embeddings ORDER BY vec_id LIMIT 1),
         m1 AS MATERIALIZED (SELECT e.vec_id, $d2 AS md
           FROM embeddings e, c1 c),
         $rounds
         SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id,
           CAST(0.0 AS DOUBLE) AS d2 FROM c1
         $sel"""
    },

    // The same unrolled chain with the argmin center rank `bc`
    // threaded through every m-table (CASE on d2 < old md BEFORE the
    // least() update — exactly the withColumn order the Spark side
    // uses) and extended to m8 so the final frame reflects all 8
    // centers; report = group by bc + the c-table center ids.
    "sim_kcenter_assign" -> {
      def d2 =
        s"((${dotSql("e.embedding", "e.embedding")} + ${dotSql("c.embedding", "c.embedding")}) - (2.0 * ${dotSql("e.embedding", "c.embedding")}))"
      val rounds = (2 to 8).map { r =>
        val excl = (1 until r).map(i => s"SELECT vec_id FROM c$i")
          .mkString(" UNION ALL ")
        s"""p$r AS MATERIALIZED (SELECT vec_id, md FROM m${r - 1}
           WHERE vec_id NOT IN ($excl)
           ORDER BY md DESC, vec_id LIMIT 1),
         c$r AS MATERIALIZED (SELECT e.vec_id, e.embedding
           FROM embeddings e JOIN p$r USING (vec_id)),
         m$r AS MATERIALIZED (SELECT m.vec_id,
             least(m.md, $d2) AS md,
             CASE WHEN $d2 < m.md THEN $r ELSE m.bc END AS bc
           FROM m${r - 1} m JOIN embeddings e ON m.vec_id = e.vec_id,
             c$r c)"""
      }.mkString(",\n")
      val centers = (1 to 8).map(r =>
        s"SELECT $r AS center_rank, vec_id FROM c$r")
        .mkString(" UNION ALL ")
      s"""WITH c1 AS MATERIALIZED (SELECT vec_id, embedding
           FROM embeddings ORDER BY vec_id LIMIT 1),
         m1 AS MATERIALIZED (SELECT e.vec_id, $d2 AS md, 1 AS bc
           FROM embeddings e, c1 c),
         $rounds,
         ctr AS ($centers)
         SELECT CAST(m.bc AS BIGINT) AS center_rank,
           ctr.vec_id AS center_id, count(*) AS n_assigned,
           CAST(floor(max(m.md) * 1000000.0) AS BIGINT) AS max_d2_micro
         FROM m8 m JOIN ctr ON m.bc = ctr.center_rank
         GROUP BY 1, 2"""
    },

    // Same wedge enumeration, hub cap, anti join and unique total
    // order (cn desc, u, v) as LinkPredict.commonNeighbors.
    "graph_link_predict" ->
      s"""WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
         e0 AS (SELECT doc_id AS id_a,
                  (doc_id*2 + 1) % (SELECT n FROM nn) AS id_b
                FROM documents
                UNION ALL
                SELECT doc_id, (doc_id*3 + 7) % (SELECT n FROM nn)
                FROM documents),
         und AS (SELECT DISTINCT least(id_a, id_b) AS u,
                  greatest(id_a, id_b) AS v
                FROM e0 WHERE id_a <> id_b),
         deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d FROM
             (SELECT u AS x FROM und UNION ALL SELECT v FROM und)
           GROUP BY x),
         ctr AS (SELECT x AS c FROM deg WHERE d <= 64),
         adj AS (SELECT c, nb FROM
             (SELECT u AS c, v AS nb FROM und
              UNION ALL SELECT v, u FROM und) s
           JOIN ctr USING (c)),
         pairs AS (SELECT a.nb AS u, b.nb AS v,
               CAST(count(*) AS BIGINT) AS cn
             FROM adj a JOIN adj b ON a.c = b.c AND a.nb < b.nb
             GROUP BY a.nb, b.nb),
         pred AS (SELECT p.u, p.v, p.cn FROM pairs p
             LEFT JOIN und ON und.u = p.u AND und.v = p.v
             WHERE und.u IS NULL)
         SELECT u, v, cn FROM pred WHERE cn >= 2
         ORDER BY cn DESC, u, v LIMIT 100""",

    // 8 unrolled k=3 peeling rounds — degrees recomputed inside the
    // surviving subgraph each round, exactly KCore.core.
    "graph_kcore" -> {
      val rounds = (2 to 8).map { i =>
        s"""s${i - 1} AS (SELECT src AS id FROM d${i - 1} WHERE deg >= 3),
           d$i AS (SELECT e.src, CAST(count(*) AS BIGINT) AS deg
             FROM e JOIN s${i - 1} a ON e.src = a.id
                    JOIN s${i - 1} b ON e.dst = b.id
             GROUP BY e.src)"""
      }.mkString(",\n")
      s"""WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
         e0 AS (SELECT doc_id AS src,
                  (doc_id*2 + 1) % (SELECT n FROM nn) AS dst
                FROM documents
                UNION ALL
                SELECT doc_id, (doc_id*3 + 7) % (SELECT n FROM nn)
                FROM documents),
         e AS (SELECT DISTINCT src, dst FROM
           (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)
           WHERE src <> dst),
         d1 AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
                FROM e GROUP BY src),
         $rounds,
         m AS (SELECT src AS id FROM d8 WHERE deg >= 3),
         dc AS (SELECT e.src, CAST(count(*) AS BIGINT) AS deg
                FROM e JOIN m a ON e.src = a.id
                       JOIN m b ON e.dst = b.id
                GROUP BY e.src)
         SELECT m.id AS doc_id,
           CAST(COALESCE(dc.deg, 0) AS BIGINT) AS deg
         FROM m LEFT JOIN dc ON m.id = dc.src"""
    },

    // chunk_idx = start // stride (same as posexplode's position);
    // list_slice clamps at the end exactly like Spark's slice
    "text_chunk" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS tk FROM documents),
         s AS (SELECT doc_id, tk, CAST(st AS INTEGER) AS st
               FROM t, unnest(range(0, greatest(len(tk) - 1, 0) + 1, 48))
                 AS r(st)),
         c AS (SELECT doc_id, st // 48 AS chunk_idx,
               list_slice(tk, st + 1, st + 64) AS ctoks FROM s)
         SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
           CAST(len(ctoks) AS INTEGER) AS n_tokens,
           array_to_string(ctoks, ' ') AS chunk_text
         FROM c""",

    "mm_features" ->
      """SELECT doc_id,
         CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
         md5(text) AS fp,
         CAST(ascii(substr(text, 1, 1)) % 640 AS INTEGER) AS width,
         CAST(ascii(substr(text, 2, 1)) % 480 AS INTEGER) AS height
         FROM documents""",

    "mm_frames" ->
      """SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
         md5(substr(text, CAST(i * 64 + 1 AS INTEGER), 64)) AS frame_fp
         FROM documents
         CROSS JOIN unnest(range(0, octet_length(encode(text)) // 64))
           AS r(i)""",

    // The oracle recomputes the PLANTED dims and exact payload sizes
    // (29-byte PNG for even doc_id, 39-byte JPEG for odd) — the Spark
    // side must round-trip them through real header bytes to match.
    "mm_dims" ->
      """SELECT doc_id,
         CAST(CASE WHEN doc_id % 2 = 0 THEN 29 ELSE 39 END AS INTEGER)
           AS n_bytes,
         CAST(doc_id % 640 + 1 AS INTEGER) AS width,
         CAST(doc_id % 480 + 1 AS INTEGER) AS height
         FROM documents""",

    // Integer floor fit into the 256 box: out = max(1, side*256 //
    // longSide) when the long side exceeds 256, else pass-through.
    "mm_resize" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 640 + 1 AS INTEGER) AS w,
             CAST(doc_id % 480 + 1 AS INTEGER) AS h
           FROM documents),
          m AS (SELECT doc_id, w, h, greatest(w, h) AS ls FROM d)
          SELECT doc_id, w AS width, h AS height,
            CAST(CASE WHEN ls <= 256 THEN w
                 ELSE greatest(1, w * 256 // ls) END AS INTEGER) AS out_w,
            CAST(CASE WHEN ls <= 256 THEN h
                 ELSE greatest(1, h * 256 // ls) END AS INTEGER) AS out_h
          FROM m""",

    // Replays the planted gray8 pixels and the exact integer NN
    // mapping (src = out_coord * src_dim // out_dim) per output pixel,
    // then the same position-weighted checksum — all BIGINT
    // arithmetic, no floats anywhere.
    "mm_resample" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 24 + 4 AS INTEGER) AS w,
             CAST(doc_id % 16 + 4 AS INTEGER) AS h
           FROM documents),
         o AS (SELECT doc_id, w, h,
             CAST(CASE WHEN greatest(w, h) <= 8 THEN w
                  ELSE greatest(1, w * 8 // greatest(w, h)) END
               AS INTEGER) AS out_w,
             CAST(CASE WHEN greatest(w, h) <= 8 THEN h
                  ELSE greatest(1, h * 8 // greatest(w, h)) END
               AS INTEGER) AS out_h
           FROM d),
         px AS (SELECT doc_id, w, h, out_w, out_h, y, x,
             (doc_id + 7 * ((y * h) // out_h) +
              13 * ((x * w) // out_w)) % 256 AS v
           FROM o
           CROSS JOIN unnest(range(0, out_h)) AS ry(y)
           CROSS JOIN unnest(range(0, out_w)) AS rx(x))
         SELECT doc_id, w AS width, h AS height, out_w, out_h,
           CAST(sum(v * (y * out_w + x + 1)) AS BIGINT) AS pix_sum
         FROM px GROUP BY 1, 2, 3, 4, 5""",

    // dHash replay from the planted pixel function: the 9x7 NN grid
    // coordinates, the adjacent-column comparisons, and the bit pack
    // are all integer ops; max bit index 6*8+7 = 55, so the HUGEINT
    // bit sum casts to BIGINT losslessly.
    "mm_dedup_phash" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 24 + 4 AS INTEGER) AS w,
             CAST(doc_id % 16 + 4 AS INTEGER) AS h
           FROM documents),
         px AS (SELECT doc_id, y, x,
             (doc_id + 7 * ((y * h) // 7) + 13 * ((x * w) // 9)) % 256
               AS v
           FROM d
           CROSS JOIN unnest(range(0, 7)) AS ry(y)
           CROSS JOIN unnest(range(0, 9)) AS rx(x)),
         bits AS (SELECT a.doc_id,
             CASE WHEN b.v > a.v
                  THEN (1::BIGINT << (a.y * 8 + a.x)) ELSE 0 END AS bit
           FROM px a JOIN px b
             ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
           WHERE a.x < 8),
         ph AS (SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS phash
                FROM bits GROUP BY 1),
         g AS (SELECT phash, min(doc_id) AS canonical_doc,
               count(*) AS n_same_hash FROM ph GROUP BY 1)
         SELECT ph.doc_id, ph.phash, g.canonical_doc, g.n_same_hash
         FROM ph JOIN g USING (phash)""",

    // Same pixel-function dHash replay, then the same 19/19/18
    // pigeonhole banding over distinct hashes, bucket pairing, and
    // popcount verify (xor + bit_count, both engines' integer ops).
    "mm_dedup_phash_near" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 24 + 4 AS INTEGER) AS w,
             CAST(doc_id % 16 + 4 AS INTEGER) AS h
           FROM documents),
         px AS (SELECT doc_id, y, x,
             (doc_id + 7 * ((y * h) // 7) + 13 * ((x * w) // 9)) % 256
               AS v
           FROM d
           CROSS JOIN unnest(range(0, 7)) AS ry(y)
           CROSS JOIN unnest(range(0, 9)) AS rx(x)),
         bits AS (SELECT a.doc_id,
             CASE WHEN b.v > a.v
                  THEN (1::BIGINT << (a.y * 8 + a.x)) ELSE 0 END AS bit
           FROM px a JOIN px b
             ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
           WHERE a.x < 8),
         ph AS (SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS phash
                FROM bits GROUP BY 1),
         hs AS (SELECT phash, count(*) AS nd FROM ph GROUP BY 1),
         bd AS (SELECT phash, t.b, (phash >> t.o) & t.m AS ck
           FROM hs, (VALUES (0, 0, 524287::BIGINT),
                            (1, 19, 524287::BIGINT),
                            (2, 38, 262143::BIGINT)) AS t(b, o, m)),
         pr AS (SELECT DISTINCT a.phash AS pa, b.phash AS pb
           FROM bd a JOIN bd b
             ON a.b = b.b AND a.ck = b.ck AND a.phash < b.phash)
         SELECT p.pa AS phash_a, p.pb AS phash_b,
           CAST(bit_count(xor(p.pa, p.pb)) AS BIGINT) AS hamming,
           x.nd AS docs_a, y.nd AS docs_b
         FROM pr p JOIN hs x ON p.pa = x.phash
           JOIN hs y ON p.pb = y.phash
         WHERE bit_count(xor(p.pa, p.pb)) BETWEEN 1 AND 2""",

    // PNG round-trip replay: the payload bytes differ (deflate), but
    // the DECODED pixels must equal the planted function — so the
    // oracle is identical to mm_dedup_phash's pixel replay. A decode
    // divergence anywhere in the inflate/unfilter path breaks the
    // hash equality.
    "mm_dedup_phash_png" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 24 + 4 AS INTEGER) AS w,
             CAST(doc_id % 16 + 4 AS INTEGER) AS h
           FROM documents),
         px AS (SELECT doc_id, y, x,
             (doc_id + 7 * ((y * h) // 7) + 13 * ((x * w) // 9)) % 256
               AS v
           FROM d
           CROSS JOIN unnest(range(0, 7)) AS ry(y)
           CROSS JOIN unnest(range(0, 9)) AS rx(x)),
         bits AS (SELECT a.doc_id,
             CASE WHEN b.v > a.v
                  THEN (1::BIGINT << (a.y * 8 + a.x)) ELSE 0 END AS bit
           FROM px a JOIN px b
             ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
           WHERE a.x < 8),
         ph AS (SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS phash
                FROM bits GROUP BY 1),
         g AS (SELECT phash, min(doc_id) AS canonical_doc,
               count(*) AS n_same_hash FROM ph GROUP BY 1)
         SELECT ph.doc_id, ph.phash, g.canonical_doc, g.n_same_hash
         FROM ph JOIN g USING (phash)""",

    "mm_resample_png" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 24 + 4 AS INTEGER) AS w,
             CAST(doc_id % 16 + 4 AS INTEGER) AS h
           FROM documents),
         o AS (SELECT doc_id, w, h,
             CAST(CASE WHEN greatest(w, h) <= 8 THEN w
                  ELSE greatest(1, w * 8 // greatest(w, h)) END
               AS INTEGER) AS out_w,
             CAST(CASE WHEN greatest(w, h) <= 8 THEN h
                  ELSE greatest(1, h * 8 // greatest(w, h)) END
               AS INTEGER) AS out_h
           FROM d),
         px AS (SELECT doc_id, w, h, out_w, out_h, y, x,
             (doc_id + 7 * ((y * h) // out_h) +
              13 * ((x * w) // out_w)) % 256 AS v
           FROM o
           CROSS JOIN unnest(range(0, out_h)) AS ry(y)
           CROSS JOIN unnest(range(0, out_w)) AS rx(x))
         SELECT doc_id, w AS width, h AS height, out_w, out_h,
           CAST(sum(v * (y * out_w + x + 1)) AS BIGINT) AS pix_sum
         FROM px GROUP BY 1, 2, 3, 4, 5""",

    // Same pattern text as BpeIshPattern (the leading ' doubles for
    // the SQL literal); RE2 and Java regex agree on this construct
    // set. size() on Spark's int array is INTEGER; len() on a DuckDB
    // list is BIGINT — cast to match Spark.
    "text_tokens" ->
      s"""SELECT doc_id,
         CAST(len($Toks) AS INTEGER) AS n_ws,
         CAST(len(regexp_extract_all(text,
           '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
           AS INTEGER) AS n_bpe,
         CAST(length(text) AS INTEGER) AS n_chars,
         CAST(length(text) AS DOUBLE) /
           len(regexp_extract_all(text,
             '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
           AS chars_per_tok
         FROM documents""",

    "text_bpe_train" ->
      graft.ext.BpeTrain.oracleSql("documents", "text",
        BpeTopWords, BpeMerges),

    "text_bpe_segment" ->
      graft.ext.BpeTrain.segmentOracleSql("documents", "text",
        BpeTopWords, BpeMerges),

    "text_bpe_encode" ->
      graft.ext.BpeTrain.encodeOracleSql("documents", "text",
        BpeEncodeTrainWords, BpeMerges),

    // Fertility replay: the encode oracle verbatim as a nested-WITH
    // subquery, then the frequency-weighted token-per-word ratio in
    // integer milli-units (DuckDB // == Spark DIV on BIGINT).
    "text_bpe_fertility" ->
      s"""WITH enc AS (SELECT * FROM (
            ${graft.ext.BpeTrain.encodeOracleSql("documents", "text",
              BpeEncodeTrainWords, BpeMerges)})),
          pw AS (SELECT word, f, count(*) AS n_sym
                 FROM enc GROUP BY 1, 2)
          SELECT CAST(count(*) AS BIGINT) AS n_vocab,
                 CAST(sum(f) AS BIGINT) AS total_words,
                 CAST(sum(f * n_sym) AS BIGINT) AS total_tokens,
                 CAST(sum(f * n_sym) AS BIGINT) * 1000 //
                   CAST(sum(f) AS BIGINT) AS fert_milli
          FROM pw""",

    // Parallel unnests zip positionally in DuckDB — that provides the
    // in-doc token order the lag window needs. Integer/integer `/` is
    // double division in both engines (bit-identical IEEE); sum of the
    // 8dp-rounded DECIMAL casts is order-independent.
    "events_anomaly_mad" ->
      """WITH med AS (SELECT event_type,
             round(quantile_cont(value, 0.5), 6) AS med
           FROM events GROUP BY event_type),
         dev AS (SELECT e.event_type, abs(e.value - m.med) AS adev
           FROM events e JOIN med m USING (event_type)),
         mad AS (SELECT event_type,
             round(quantile_cont(adev, 0.5), 6) AS mad
           FROM dev GROUP BY event_type)
         SELECT e.event_id, e.event_type, e.value
         FROM events e
         JOIN med USING (event_type) JOIN mad USING (event_type)
         WHERE e.value > med + 4.4478 * mad""",

    "text_lm_score" ->
      s"""WITH $LmScoredCtes
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(known) AS BIGINT) AS n_known,
           CAST(sum(p) AS BIGINT) AS sum_p,
           (sum(known) * 5 >= count(*) * 4) AS lm_keep
         FROM scored GROUP BY doc_id""",

    // Kneser–Ney replayed exactly: same bigram-type tables (counts,
    // distinct continuations nv, distinct contexts nw, type total
    // ncc — HUGEINT sums pinned to BIGINT), same exact-rational
    // num/den forms with the dyadic 3/4 discount, same
    // length(bin(n)) log2 quantization. Doc scores are BIGINT sums.
    "text_lm_kn" ->
      s"""WITH rt AS (SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z]+') AS ws
           FROM documents WHERE doc_id % 5 = 0),
         rtok AS (SELECT doc_id, unnest(ws) AS w,
                  unnest(generate_series(1, len(ws))) AS pos FROM rt),
         rbig AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM (
             SELECT w AS w1,
                    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
             FROM rtok)
           WHERE w2 IS NOT NULL GROUP BY w1, w2),
         ctx AS (SELECT w1 AS v1, CAST(sum(c2) AS BIGINT) AS cv,
                 CAST(count(*) AS BIGINT) AS nv
               FROM rbig GROUP BY w1),
         cont AS (SELECT w2 AS v2, CAST(count(*) AS BIGINT) AS nw
               FROM rbig GROUP BY w2),
         vcc AS (SELECT CAST(count(*) AS BIGINT) AS ncc FROM rbig),
         st AS (SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z]+') AS ws
           FROM documents WHERE doc_id % 5 <> 0),
         stok AS (SELECT doc_id, unnest(ws) AS w,
                  unnest(generate_series(1, len(ws))) AS pos FROM st),
         sbig AS (SELECT doc_id, w1, w2 FROM (
             SELECT doc_id, w AS w1,
                    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
             FROM stok)
           WHERE w2 IS NOT NULL),
         scored AS (
           SELECT s.doc_id,
             CASE WHEN b.c2 IS NOT NULL THEN 1 ELSE 0 END AS known,
             CAST(length(bin(
               CASE WHEN x.cv IS NOT NULL
                 THEN greatest(COALESCE(b.c2, 0) * 4 - 3, 0) * vcc.ncc
                      + x.nv * 3 * greatest(COALESCE(c.nw, 0), 1)
                 ELSE greatest(COALESCE(c.nw, 0), 1) END))
               - length(bin(
               CASE WHEN x.cv IS NOT NULL THEN x.cv * 4 * vcc.ncc
                    ELSE vcc.ncc END)) AS BIGINT) AS wq
           FROM sbig s
           LEFT JOIN rbig b ON s.w1 = b.w1 AND s.w2 = b.w2
           LEFT JOIN ctx x ON s.w1 = x.v1
           LEFT JOIN cont c ON s.w2 = c.v2
           CROSS JOIN vcc)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(known) AS BIGINT) AS n_known,
           CAST(sum(wq) AS BIGINT) AS kn_logq
         FROM scored GROUP BY doc_id""",

    // Mirrors the integer tercile assignment exactly: avg_p and all
    // rank thresholds are BIGINT floor divisions; the cumulative
    // window runs over one row per distinct (lang, avg_p) so
    // RANGE-vs-ROWS framing cannot differ.
    "pipeline_ccnet_buckets" ->
      s"""WITH $LmScoredCtes,
         sc AS (SELECT a.doc_id, d.lang,
               CAST(a.sum_p // a.n_bigrams AS BIGINT) AS avg_p
             FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                     CAST(sum(p) AS BIGINT) AS sum_p
                   FROM scored GROUP BY doc_id) a
             JOIN documents d ON a.doc_id = d.doc_id),
         vc AS (SELECT lang, avg_p, CAST(count(*) AS BIGINT) AS cnt
                FROM sc GROUP BY lang, avg_p),
         cm AS (SELECT lang, avg_p, cnt,
               sum(cnt) OVER (PARTITION BY lang ORDER BY avg_p DESC)
                 AS cum
             FROM vc),
         tt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
                FROM sc GROUP BY lang),
         lab AS (SELECT c.lang, c.avg_p,
               CASE WHEN c.cum - c.cnt < t.n // 3 THEN 'head'
                    WHEN c.cum - c.cnt < (2 * t.n) // 3 THEN 'middle'
                    ELSE 'tail' END AS bucket
             FROM cm c JOIN tt t ON c.lang = t.lang)
         SELECT s.doc_id, s.lang, s.avg_p, l.bucket
         FROM sc s JOIN lab l ON s.lang = l.lang AND s.avg_p = l.avg_p""",

    "dedup_verify_lev" ->
      s"""WITH cand AS (SELECT id_a, id_b FROM ($minhashOracle))
         SELECT id_a, id_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
           round(1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE) /
             CAST(greatest(length(a.text), length(b.text)) AS DOUBLE), 6)
             AS edit_sim,
           CAST(CASE WHEN levenshtein(a.text, b.text) * 10 <=
             greatest(length(a.text), length(b.text)) * 3
             THEN 1 ELSE 0 END AS BIGINT) AS verified
         FROM cand JOIN documents a ON cand.id_a = a.doc_id
                   JOIN documents b ON cand.id_b = b.doc_id""",

    // Bounded replay: DuckDB has no threshold arg, so the oracle
    // computes the exact distance and applies the identical integer
    // gate — the -1 sentinel and the verified flag must agree with
    // Spark's banded early-exit implementation exactly.
    "dedup_verify_lev_bounded" ->
      s"""WITH cand AS (SELECT id_a, id_b FROM ($minhashOracle))
         SELECT id_a, id_b,
           CAST(CASE WHEN levenshtein(a.text, b.text) * 10 <=
               greatest(length(a.text), length(b.text)) * 3
             THEN levenshtein(a.text, b.text) ELSE -1 END AS BIGINT)
             AS lev_bounded,
           CAST(CASE WHEN levenshtein(a.text, b.text) * 10 <=
               greatest(length(a.text), length(b.text)) * 3
             THEN 1 ELSE 0 END AS BIGINT) AS verified
         FROM cand JOIN documents a ON cand.id_a = a.doc_id
                   JOIN documents b ON cand.id_b = b.doc_id""",

    "dedup_containment" ->
      s"""WITH ${lshCandCtes(Word3Ctes)},
         ov AS (SELECT id_a, id_b,
             len(list_intersect(sa.ts, sb.ts)) AS n_inter,
             len(sa.ts) AS na, len(sb.ts) AS nb
           FROM cand JOIN sh2 sa ON cand.id_a = sa.doc_id
                     JOIN sh2 sb ON cand.id_b = sb.doc_id)
         SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter,
           round(CAST(n_inter AS DOUBLE) / na, 6) AS cont_a_in_b,
           round(CAST(n_inter AS DOUBLE) / nb, 6) AS cont_b_in_a,
           CAST(CASE WHEN n_inter * 10 >= least(na, nb) * 9
             THEN 1 ELSE 0 END AS BIGINT) AS near_containment
         FROM ov WHERE n_inter * 2 >= least(na, nb)""",

    // Rates re-derived in SQL with the same double association
    // (t * k / c, c/t via BIGINT/DOUBLE): identical IEEE both engines.
    // Temperature replay: the rate table recomputes exactly (sqrt of
    // a double ratio is correctly-rounded IEEE in both engines).
    "sample_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
         mn AS (SELECT min(c) AS mn FROM c),
         r AS (SELECT lang, sqrt(CAST(mn.mn AS DOUBLE) / c) AS rate
               FROM c CROSS JOIN mn)
         SELECT d.doc_id, d.lang, d.source
         FROM documents d JOIN r ON d.lang = r.lang
         WHERE ('0x' || substr(md5('temp' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
           % 1000000 < r.rate * 1e6""",

    "pipeline_mix" ->
      """WITH t(lang, t) AS (SELECT lang, CAST(tt AS DOUBLE) FROM (VALUES
             ('en', 0.40), ('de', 0.15), ('es', 0.15),
             ('fr', 0.15), ('zh', 0.15)) v(lang, tt)),
         c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
         k AS (SELECT min(c / t) AS k FROM c JOIN t USING (lang)),
         r AS (SELECT lang, t * k.k / c AS rate
               FROM c JOIN t USING (lang) CROSS JOIN k)
         SELECT d.doc_id, d.lang, d.source
         FROM documents d JOIN r ON d.lang = r.lang
         WHERE ('0x' || substr(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
           % 1000000 < r.rate * 1e6""",

    "dedup_spans" ->
      s"""WITH tok AS (SELECT doc_id, unnest(ws) AS w,
             generate_subscripts(ws, 1) - 1 AS pos
           FROM (SELECT doc_id, $Toks AS ws FROM documents)),
         led AS (SELECT doc_id, pos, w,
             lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
             lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
             lead(w, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS w3,
             lead(w, 4) OVER (PARTITION BY doc_id ORDER BY pos) AS w4
           FROM tok),
         grams AS (SELECT doc_id, pos,
             md5(concat_ws(' ', w, w1, w2, w3, w4)) AS g
           FROM led WHERE w4 IS NOT NULL),
         dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 1),
         dp AS (SELECT doc_id, pos FROM grams
           WHERE g IN (SELECT g FROM dup)),
         ds AS (SELECT doc_id, count(*) AS n_tokens FROM tok
           GROUP BY doc_id),
         gc AS (SELECT doc_id, count(*) AS dup_grams FROM dp
           GROUP BY doc_id),
         cv AS (SELECT doc_id, count(DISTINCT ti) AS dup_tokens
           FROM (SELECT doc_id, unnest(range(pos, pos + 5)) AS ti
             FROM dp)
           GROUP BY doc_id)
         SELECT ds.doc_id, ds.n_tokens,
           CAST(coalesce(gc.dup_grams, 0) AS BIGINT) AS dup_grams,
           CAST(coalesce(cv.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(coalesce(cv.dup_tokens, 0) AS DOUBLE) / ds.n_tokens
             AS dup_ratio
         FROM ds LEFT JOIN gc ON ds.doc_id = gc.doc_id
           LEFT JOIN cv ON ds.doc_id = cv.doc_id""",

    // Winnowing (SWA'03): grams exactly as dedup_spans; fp = min gram
    // hash over each window of 4 consecutive starts (full windows
    // only; short docs keep their pos-0 truncated window); MOSS
    // over-common-fp drop (df > 64) and pair count — replayed
    // window-frame-for-window-frame.
    "dedup_winnow" ->
      s"""WITH tok AS (SELECT doc_id, unnest(ws) AS w,
             generate_subscripts(ws, 1) - 1 AS pos
           FROM (SELECT doc_id, $Toks AS ws FROM documents)),
         led AS (SELECT doc_id, pos, w,
             lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
             lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
             lead(w, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS w3,
             lead(w, 4) OVER (PARTITION BY doc_id ORDER BY pos) AS w4
           FROM tok),
         grams AS (SELECT doc_id, pos,
             md5(concat_ws(' ', w, w1, w2, w3, w4)) AS g
           FROM led WHERE w4 IS NOT NULL),
         wm AS (SELECT doc_id, pos,
             min(g) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             count(*) OVER (PARTITION BY doc_id) AS ng
           FROM grams),
         fps AS (SELECT DISTINCT doc_id, fp FROM wm
           WHERE pos <= greatest(ng - 4, 0)),
         keep AS (SELECT fp FROM fps GROUP BY fp
           HAVING count(*) > 1 AND count(*) <= 64)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS n_shared
         FROM fps a JOIN fps b USING (fp)
         WHERE fp IN (SELECT fp FROM keep) AND a.doc_id < b.doc_id
         GROUP BY 1, 2
         HAVING count(*) >= 2""",

    // Content-defined chunking replay: same base-257 mod-1,000,003
    // window fold (list_reduce over the 8-char slice — the
    // text_rollhash seam, no HUGEINT needed: everything stays far
    // inside BIGINT), same boundary rule (h % 32 = 0 at window END
    // positions e >= 7), same -1/cuts/n-1 bound assembly and
    // substring arithmetic. All operands non-negative, so Spark's
    // trunc DIV/% and DuckDB's floor agree.
    "dedup_cdc" ->
      s"""WITH ch AS (SELECT doc_id, nt,
             [c FOR c IN string_split(nt, '') IF c != ''] AS cs
           FROM (SELECT doc_id, $NormText AS nt FROM documents)),
         cu AS (SELECT doc_id, nt, len(cs) AS n,
             [e FOR e IN range(7, len(cs))
              IF list_reduce(list_prepend(0::BIGINT,
                   [ascii(c)::BIGINT FOR c IN cs[e - 6 : e + 1]]),
                 (a, x) -> (a * 257 + x) % 1000003) % 32 = 0] AS cuts
           FROM ch),
         bn AS (SELECT doc_id, nt,
             list_concat(list_concat([-1], cuts),
               CASE WHEN len(cuts) > 0 AND cuts[-1] = n - 1
                    THEN []::BIGINT[] ELSE [n - 1] END) AS bnds
           FROM cu),
         ck AS (SELECT doc_id,
             unnest([substr(nt, bnds[i] + 2, bnds[i + 1] - bnds[i])
                     FOR i IN range(1, len(bnds))]) AS chunk
           FROM bn)
         SELECT md5(chunk) AS fp,
           CAST(length(chunk) AS BIGINT) AS chunk_len,
           count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
         FROM ck GROUP BY chunk HAVING count(*) > 1""",

    // Same chunk chain with lang carried; raw vs within-lang
    // DISTINCT chunk chars, all-positive integer division.
    "dedup_cdc_savings" ->
      s"""WITH ch AS (SELECT doc_id, lang, nt,
             [c FOR c IN string_split(nt, '') IF c != ''] AS cs
           FROM (SELECT doc_id, lang, $NormText AS nt FROM documents)),
         cu AS (SELECT doc_id, lang, nt, len(cs) AS n,
             [e FOR e IN range(7, len(cs))
              IF list_reduce(list_prepend(0::BIGINT,
                   [ascii(c)::BIGINT FOR c IN cs[e - 6 : e + 1]]),
                 (a, x) -> (a * 257 + x) % 1000003) % 32 = 0] AS cuts
           FROM ch),
         bn AS (SELECT doc_id, lang, nt,
             list_concat(list_concat([-1], cuts),
               CASE WHEN len(cuts) > 0 AND cuts[-1] = n - 1
                    THEN []::BIGINT[] ELSE [n - 1] END) AS bnds
           FROM cu),
         ck AS (SELECT doc_id, lang,
             unnest([substr(nt, bnds[i] + 2, bnds[i + 1] - bnds[i])
                     FOR i IN range(1, len(bnds))]) AS chunk
           FROM bn),
         tot AS (SELECT lang, count(DISTINCT doc_id) AS n_docs,
             CAST(sum(length(chunk)) AS BIGINT) AS raw_chars
           FROM ck GROUP BY 1),
         un AS (SELECT lang,
             CAST(sum(length(chunk)) AS BIGINT) AS stored_chars
           FROM (SELECT DISTINCT lang, chunk FROM ck) GROUP BY 1)
         SELECT t.lang, t.n_docs, t.raw_chars, un.stored_chars,
           CAST((t.raw_chars - un.stored_chars) * 1000000
                // t.raw_chars AS BIGINT) AS savings_micro
         FROM tot t JOIN un ON t.lang = un.lang""",

    "dedup_spans_clean" ->
      s"""WITH tok AS (SELECT doc_id, unnest(ws) AS w,
             generate_subscripts(ws, 1) - 1 AS pos
           FROM (SELECT doc_id, $Toks AS ws FROM documents)),
         led AS (SELECT doc_id, pos, w,
             lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
             lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
             lead(w, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS w3,
             lead(w, 4) OVER (PARTITION BY doc_id ORDER BY pos) AS w4
           FROM tok),
         grams AS (SELECT doc_id, pos,
             md5(concat_ws(' ', w, w1, w2, w3, w4)) AS g
           FROM led WHERE w4 IS NOT NULL),
         dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 1),
         cv AS (SELECT DISTINCT doc_id, ti FROM (
           SELECT doc_id, unnest(range(pos, pos + 5)) AS ti
           FROM grams WHERE g IN (SELECT g FROM dup))),
         kept AS (SELECT t.doc_id, t.pos, t.w FROM tok t
           LEFT JOIN cv ON t.doc_id = cv.doc_id AND t.pos = cv.ti
           WHERE cv.ti IS NULL),
         agg AS (SELECT doc_id, count(*) AS n_kept,
             md5(string_agg(w, ' ' ORDER BY pos)) AS clean_fp
           FROM kept GROUP BY doc_id),
         base AS (SELECT doc_id, len($Toks) AS n_tokens FROM documents)
         SELECT b.doc_id, b.n_tokens,
           coalesce(a.n_kept, 0) AS n_kept,
           coalesce(a.clean_fp, md5('')) AS clean_fp
         FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id""",

    "pipeline_split" ->
      """WITH b AS (SELECT n_chars,
           ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             % 16 AS bk
           FROM documents)
         SELECT CASE WHEN bk = 15 THEN 'test'
             WHEN bk = 14 THEN 'val' ELSE 'train' END AS split,
           count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM b GROUP BY 1""",

    "pipeline_split_leakfree" ->
      s"""WITH g AS (SELECT * FROM ($dedupGroupsOracle)),
         lb AS (SELECT d.doc_id, d.n_chars,
                coalesce(g.group_id, d.doc_id) AS group_id
                FROM documents d LEFT JOIN g ON d.doc_id = g.doc_id),
         sp AS (SELECT n_chars, group_id,
           CASE ('0x' || substr(md5('split' ||
               CAST(group_id AS VARCHAR)), 1, 8))::BIGINT % 16
             WHEN 15 THEN 'test' WHEN 14 THEN 'val'
             ELSE 'train' END AS split,
           CASE ('0x' || substr(md5('split' ||
               CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 16
             WHEN 15 THEN 'test' WHEN 14 THEN 'val'
             ELSE 'train' END AS naive
           FROM lb)
         SELECT split, count(*) AS n_docs,
           count(DISTINCT group_id) AS n_groups,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(CASE WHEN naive <> split THEN 1 ELSE 0 END)
             AS BIGINT) AS n_moved
         FROM sp GROUP BY 1""",

    "sample_fixed_k" ->
      """SELECT doc_id, lang, n_chars, rank FROM (
           SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5('fk' || CAST(doc_id AS VARCHAR)), doc_id)
               AS rank
           FROM documents) WHERE rank <= 50""",

    // Margin re-derived with the same integer accumulation: per-token
    // md5 bucket (first 8 hex chars as BIGINT, mod 8192 — identical
    // UTF-8 byte hashing in both engines), summed as BIGINT, one
    // double conversion.
    "text_classify_hash" ->
      s"""WITH tok AS (SELECT doc_id, unnest($Toks) AS t FROM documents),
         wb AS (SELECT doc_id,
             ('0x' || substr(md5('w' || t), 1, 8))::BIGINT % 8192
               - 4096 AS wb
           FROM tok)
         SELECT doc_id, count(*) AS n_tokens,
           CAST(CAST(SUM(wb) AS BIGINT) AS DOUBLE) / 8192.0 / count(*)
             AS margin,
           CAST(SUM(wb) AS BIGINT) > 0 AS keep
         FROM wb GROUP BY doc_id""",

    // Weight table replayed exactly: same md5 bucket, same
    // half-bit log2 quantization (length(bin(n*n)) — integer on
    // both engines) of the Laplace numerator (cnt+1) and
    // denominator (tot+4096); totals cast to BIGINT before the
    // square so bin() sees the same type. Even-doc_id training half.
    "text_nb_train" ->
      s"""SELECT wl, b,
           CAST(length(bin((cnt+1)*(cnt+1)))
             - length(bin(tb*tb)) AS BIGINT) AS w,
           CAST(1 - length(bin(tb*tb)) AS BIGINT) AS u
         FROM (SELECT wl, b, cnt,
             CAST(tot AS BIGINT) + 4096 AS tb
           FROM (SELECT wl, b, count(*) AS cnt,
               SUM(count(*)) OVER (PARTITION BY wl) AS tot
             FROM (SELECT lang AS wl,
                 ('0x' || substr(md5('nb' || t), 1, 8))::BIGINT % 4096 AS b
               FROM (SELECT lang, unnest($Toks) AS t FROM documents
                 WHERE doc_id % 2 = 0))
             GROUP BY wl, b))""",

    // Scores are BIGINT sums of the integer weights — exact,
    // order-independent — so the argmax (score desc, label asc) is a
    // total order both engines resolve identically.
    "text_nb_classify" ->
      s"""WITH tb AS (SELECT doc_id, lang AS true_label,
             ('0x' || substr(md5('nb' || t), 1, 8))::BIGINT % 4096 AS b
           FROM (SELECT doc_id, lang, unnest($Toks) AS t FROM documents)),
         w AS (SELECT wl, b,
             CAST(length(bin((cnt+1)*(cnt+1)))
               - length(bin(tb*tb)) AS BIGINT) AS w,
             CAST(1 - length(bin(tb*tb)) AS BIGINT) AS u
           FROM (SELECT wl, b, cnt,
               CAST(tot AS BIGINT) + 4096 AS tb
             FROM (SELECT wl, b, count(*) AS cnt,
                 SUM(count(*)) OVER (PARTITION BY wl) AS tot
               FROM (SELECT lang AS wl,
                   ('0x' || substr(md5('nb' || t), 1, 8))::BIGINT % 4096 AS b
                 FROM (SELECT lang, unnest($Toks) AS t FROM documents
                   WHERE doc_id % 2 = 0))
               GROUP BY wl, b))),
         cs AS (SELECT DISTINCT wl, u FROM w),
         sc AS (SELECT tb.doc_id, cs.wl,
             max(tb.true_label) AS true_label,
             CAST(SUM(COALESCE(w.w, cs.u)) AS BIGINT) AS score,
             max(CASE WHEN w.w IS NOT NULL THEN 1 ELSE 0 END) AS hit
           FROM tb CROSS JOIN cs
           LEFT JOIN w ON w.wl = cs.wl AND w.b = tb.b
           GROUP BY tb.doc_id, cs.wl),
         fh AS (SELECT *, max(hit) OVER (PARTITION BY doc_id)
             AS any_hit FROM sc),
         rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, wl) AS rn FROM fh
           WHERE any_hit = 1)
         SELECT doc_id, wl AS pred_label, score, true_label,
           (wl = true_label) AS correct
         FROM rk WHERE rn = 1""",

    "dedup_snm" ->
      s"""WITH docs AS (
           SELECT doc_id, text,
             array_to_string(list_slice($Toks, 1, 2), ' ') AS blk,
             substr(text, 1, 60) AS head
           FROM documents),
         led AS (
           SELECT blk, doc_id, head,
             LEAD(doc_id, 1) OVER w AS id1, LEAD(head, 1) OVER w AS h1,
             LEAD(doc_id, 2) OVER w AS id2, LEAD(head, 2) OVER w AS h2
           FROM docs WINDOW w AS (PARTITION BY blk ORDER BY text, doc_id)),
         pairs AS (
           SELECT doc_id, head, nid, nh FROM (
             SELECT doc_id, head, id1 AS nid, h1 AS nh FROM led
             UNION ALL
             SELECT doc_id, head, id2 AS nid, h2 AS nh FROM led)
           WHERE nid IS NOT NULL)
         SELECT LEAST(doc_id, nid) AS doc_a,
           GREATEST(doc_id, nid) AS doc_b,
           CAST(levenshtein(head, nh) AS BIGINT) AS lev
         FROM pairs WHERE levenshtein(head, nh) <= 20"""
  )
}
