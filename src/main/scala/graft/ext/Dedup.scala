package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora.
  *
  * Design rules learned the hard way (all measured on the bench):
  *
  *   1. NO higher-order functions (`transform`/`aggregate`) on hot
  *      paths: they are interpreted (outside whole-stage codegen) and
  *      have no common-subexpression elimination, so nested uses
  *      re-evaluate their inputs per element — a 30x+ blowup.
  *   2. NO document-sized arrays through shuffles or filters: the
  *      optimizer (filter pushdown, InferFiltersFromGenerate) freely
  *      duplicates projection expressions into scan filters, so an
  *      "array of shingles" column gets recomputed per predicate.
  *      Shingles are plain ROWS here; sets are (id, shingle) relations.
  *   3. Self-joins ship skinny keys only; verification joins back via
  *      the (tiny) candidate pair list — broadcast by AQE.
  *
  * Hashing policy: ONE md5 per shingle/token (md5 exists in DuckDB, so
  * the whole pipeline is oracle-checkable cross-engine); the hash
  * family is derived from two 32-bit slices of the digest by double
  * hashing h_i = (h1 + i·h2) mod P (Kirsch–Mitzenmacher) — `numHashes`
  * functions for the price of one digest.
  */
object Dedup {

  /** Prime just above 2^32: keeps h1 + i·h2 (< 2^38) well inside Long. */
  final val MinhashPrime = 4294967311L

  /** Whitespace tokens of lowercased text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** URL canonicalization — the pre-content-dedup normalization every
    * crawl pipeline runs: strip fragment, canonicalize the query at
    * the PARAMETER level (split on `&`, drop tracking params —
    * `utm_*`/`gclid`/`fbclid` — wherever they appear, sort the
    * survivors, rejoin), lowercase scheme+host, drop the default :80
    * port, trim a trailing slash. Param-level work means
    * `?a=1&utm_source=x` and `?b=2&a=1` vs `?a=1&b=2` all collapse —
    * the cases a leading-tracking-only regex strip under-dedups on a
    * real crawl. Everything is `split`/`filter`/`array_sort`/
    * `array_join` built-ins plus ANCHORED single-match regexes (no
    * backreferences), so replace-all and replace-first engines agree
    * and the DuckDB oracle replays it list-op-for-list-op. One
    * codegen'd map-side projection — stateless, so it runs unchanged
    * on a stream. Used by `dedup_url`; spec pins stream==batch.
    */
  def urlCanon(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val pathPart = regexp_replace(noFrag, "\\?.*$", "")
    val query = regexp_extract(noFrag, "\\?(.*)$", 1)
    val kept = filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[^=]*|gclid|fbclid)(=.*)?$"))
    val qs = array_join(array_sort(kept), "&")
    val built = concat(
      lower(regexp_extract(pathPart, "^([A-Za-z]+)://", 1)),
      lit("://"),
      regexp_replace(
        lower(regexp_extract(pathPart, "^[A-Za-z]+://([^/]+)", 1)),
        ":80$", ""),
      regexp_replace(
        regexp_extract(pathPart, "^[A-Za-z]+://[^/]+(/.*)?$", 1),
        "/$", ""),
      when(length(qs) > 0, concat(lit("?"), qs)).otherwise(lit("")))
    // schemeless/garbage input passes through unchanged rather than
    // collapsing to "://" — canonicalization must never destroy a key
    when(url.rlike("^[A-Za-z]+://"), built).otherwise(url)
  }

  /** (h1, h2) 32-bit hash pair of a string: the first/second 8 hex chars
    * of its md5 digest, as longs. DuckDB: ('0x'||substr(md5(t),1,8))::BIGINT.
    */
  private def h32(t: Column, offset: Int): Column =
    conv(substring(md5(t), offset, 8), 16, 10).cast("long")

  /** Distinct 3-gram word shingles as ROWS: (id, shingle).
    *
    * posexplode + windowed `lead` — fully codegen'd, no arrays survive
    * past the generator, so no optimizer rule can duplicate expensive
    * array expressions into filters. The window shuffles by document
    * id, which every downstream aggregation reuses.
    */
  def shingleRows(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // No repartition of the raw text: tokenize/explode is cheap
    // map-side work, and the first real shuffle is the window's
    // hash-partition by doc id — shipping the corpus once more
    // beforehand buys nothing at scale.
    val tok = df.select(col(idCol).as("id"), col(textCol).as("txt"))
      .select(col("id"), posexplode(tokens(col("txt"))).as(Seq("pos", "w")))
    val w = Window.partitionBy("id").orderBy("pos")
    tok
      .select(col("id"), col("w"),
        lead("w", 1).over(w).as("w1"), lead("w", 2).over(w).as("w2"))
      .filter(col("w2").isNotNull)
      .select(col("id"), concat_ws(" ", col("w"), col("w1"), col("w2"))
        .as("shingle"))
      .distinct()
  }

  /** MinHash signature table (id, m0..m{n-1}): component i is
    * min over shingles of (h1 + i·h2) mod P — ONE codegen'd
    * hash-aggregate with `numHashes` MIN columns, map-side partial, so
    * the only shuffled payload is one already-minimized row of
    * `numHashes` longs per document.
    */
  def minhashSignatures(shingles: DataFrame, numHashes: Int): DataFrame = {
    val hx = md5(col("shingle"))
    val hashed = shingles.select(col("id"),
      conv(substring(hx, 1, 8), 16, 10).cast("long").as("h1"),
      conv(substring(hx, 9, 8), 16, 10).cast("long").as("h2"))
    val mins = (0 until numHashes).map(i =>
      min(pmod(col("h1") + lit(i.toLong) * col("h2"),
        lit(MinhashPrime))).as(s"m$i"))
    hashed.groupBy(col("id")).agg(mins.head, mins.tail: _*)
  }

  /** LSH band keys over a signature table's m0..m{n-1} columns:
    * `bands` groups of `rowsPerBand` components, each group joined
    * into one bucket-key string.
    */
  def bandKeys(bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { j =>
      concat_ws("|",
        (0 until rowsPerBand).map(r =>
          col(s"m${j * rowsPerBand + r}")): _*)
    }: _*)

  /** Candidate id-pairs from an LSH band table `(id, band, bk)`: every
    * (id_a < id_b) sharing a (band, bk) bucket. May emit a pair once
    * per shared bucket — callers `.distinct()`.
    *
    * Mega-bucket guard: a degenerate bucket (e.g. thousands of
    * near-empty docs with one signature) makes the naive self-join
    * quadratic INSIDE ONE TASK. Buckets above `hotCap` rows are
    * detected with one aggregation over the skinny band table and
    * salted: the left side keeps its deterministic salt
    * `xxhash64(id) mod salts`, the right side is replicated across
    * all salts, and the join key becomes (band, bk, salt) — the
    * bucket's quadratic output is unchanged (each pair matches at
    * exactly one salt) but the work spreads over `salts` tasks.
    * Cold buckets pay only a broadcast anti-join probe.
    */
  def bucketPairs(banded: DataFrame, hotCap: Int = 4096,
      salts: Int = 16): DataFrame =
    bucketJoinPairs(
      banded.select(col("id").as("id_a"), col("band"), col("bk")),
      banded.select(col("id").as("id_b"), col("band"), col("bk")),
      hotCap, salts, detectLeft = false) // sides identical: one agg

  /** Two-sided generalization of `bucketPairs`: all (id_a < id_b) with
    * an `la` row and an `rb` row sharing a (band, bk) bucket. Hot
    * buckets are detected on EITHER side by default — the join shuffle
    * hashes on (band, bk), so a bucket dense only on `la` (e.g. the
    * variant-enumeration leg of simhashPairs) still lands its whole
    * output in one task without salting; the salt split handles both
    * orientations once detected. `bucketPairs` passes detectLeft=false
    * since its sides are the same table. Fast path: when no bucket
    * exceeds `hotCap` — the common case — the anti/semi probe legs are
    * skipped entirely and the plan is one plain join (the hot-bucket
    * aggregation was needed for the guard anyway; `isEmpty` on its
    * tiny output decides the shape driver-side).
    */
  def bucketJoinPairs(la: DataFrame, rb: DataFrame, hotCap: Int = 4096,
      salts: Int = 16, detectLeft: Boolean = true,
      ordered: Boolean = true): DataFrame = {
    // `ordered=false` keeps ALL (id_a, id_b) bucket co-occurrences —
    // the shape for query-vs-corpus joins (knnJoin), where the two id
    // spaces are unrelated and `id_a < id_b` would drop valid matches.
    val pairFilter =
      if (ordered) col("id_a") < col("id_b") else lit(true)
    def hotOn(side: DataFrame) = side.groupBy("band", "bk")
      .agg(count(lit(1)).as("n")).filter(col("n") > hotCap)
      .select("band", "bk")
    val hot = (if (detectLeft) hotOn(rb).unionByName(hotOn(la)).distinct()
               else hotOn(rb))
      .localCheckpoint(false) // tiny; decides the shape + feeds probes
    // Deliberate tradeoff: `isEmpty` runs the band aggregation at
    // DataFrame-CONSTRUCTION time (plan inspection included), but in
    // the common no-hot-bucket case it buys a plan with zero probe
    // legs — measured faster than carrying anti/semi probes through
    // every query. The aggregated bands are checkpointed, so the work
    // is not repeated by the main action.
    if (hot.isEmpty) {
      la.join(rb, Seq("band", "bk"))
        .filter(pairFilter)
        .select("id_a", "id_b")
    } else {
      val coldA = la.join(broadcast(hot), Seq("band", "bk"), "left_anti")
      val coldB = rb.join(broadcast(hot), Seq("band", "bk"), "left_anti")
      val coldPairs = coldA.join(coldB, Seq("band", "bk"))
        .filter(pairFilter)
        .select("id_a", "id_b")
      val sa = la.join(broadcast(hot), Seq("band", "bk"), "left_semi")
        .withColumn("salt", pmod(xxhash64(col("id_a")), lit(salts.toLong)))
      val sb = rb.join(broadcast(hot), Seq("band", "bk"), "left_semi")
        .withColumn("salt",
          explode(sequence(lit(0L), lit(salts.toLong - 1))))
      val hotPairs = sa.join(sb, Seq("band", "bk", "salt"))
        .filter(pairFilter)
        .select("id_a", "id_b")
      coldPairs.union(hotPairs)
    }
  }

  /** Exact Jaccard similarity of two (distinct-element) arrays —
    * integer set sizes divided in double, deterministic cross-engine.
    * (Column-level utility; the pair-mining path below counts
    * intersections relationally instead.)
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_distinct(concat(a, b)))

  /** Character n-gram shingles as ROWS: (id, gram) over the normalized
    * text — the char-level analogue of `shingleRows` (robust to word
    * re-segmentation; the usual unit for code/short-text dedup).
    */
  def charGramRows(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame = {
    // spread BEFORE the ~len-x gram explode + per-gram md5: a
    // single-split scan otherwise runs the whole amplification in one
    // task (measured 2.3 s of dedup_ngram's 4.8 s — see ScanSpread)
    ScanSpread.spread(df).select(col(idCol).as("id"),
        TextAnalysis.normalized(col(textCol)).as("nt"))
      .filter(length(col("nt")) >= n)
      .select(col("id"), col("nt"),
        explode(sequence(lit(1), length(col("nt")) - (n - 1))).as("p"))
      .select(col("id"), col("nt").substr(col("p"), lit(n)).as("shingle"))
      .distinct()
  }

  /** Per-row (h1, h2) hash-pair struct array of a text's DISTINCT
    * word-3-gram shingles — the MAP-SIDE form of `shingleRows` + md5
    * for STREAMS (per-doc lead windows are unsupported there):
    * shingles by zip-shift, one md5 per shingle materialized once.
    * Interpreted HOFs are banned on batch hot paths (see the design
    * rules below) — this is per-doc bounded work where the relational
    * alternative does not exist. Bit-compatible with the row form
    * (StreamingOpsSpec pins the gate verdicts; MinHashIndexSpec pins
    * full signature equality through `minhashComponent`).
    */
  def shingleHashesCol(text: Column): Column =
    gramHashStructs(shingleStringsCol(text))

  /** DISTINCT word-3-gram shingle STRING array of a text column — the
    * per-row form of [[shingleRows]]' (id, shingle) relation
    * (zip-shift; same tokenizer, same concat, so the string SETS are
    * identical — differentially pinned through [[shingleHashesCol]]'s
    * signature equality). Feeds the hash encode above and
    * `StreamingOps.ingestGates`' in-stream exact verify, where
    * Jaccard over two of these arrays equals the relational
    * (id, shingle)-row count verify bit for bit (same integer set
    * sizes → same double division).
    */
  def shingleStringsCol(text: Column): Column = {
    val tk = tokens(text)
    val n = greatest(size(tk) - 2, lit(0))
    array_distinct(zip_with(
      zip_with(slice(tk, lit(1), n), slice(tk, lit(2), n),
        (a, b) => concat_ws(" ", a, b)),
      slice(tk, lit(3), n), (ab, c) => concat_ws(" ", ab, c)))
  }

  /** One (h1, h2) md5 hash-pair struct per gram — the element form of
    * `minhashSignatures`' hash columns, shared by the map-side word
    * and char shingle encodes.
    */
  private def gramHashStructs(grams: Column): Column =
    transform(grams, s => {
      val hx = md5(s)
      struct(conv(substring(hx, 1, 8), 16, 10).cast("long").as("h1"),
        conv(substring(hx, 9, 8), 16, 10).cast("long").as("h2"))
    })

  /** Per-row (h1, h2) hash-pair struct array of a text's DISTINCT
    * char n-gram shingles — the MAP-SIDE form of `charGramRows` + md5
    * for streams. The `when` guard mirrors `charGramRows`' length
    * filter (and keeps the sequence ascending); too-short docs yield
    * an empty array.
    */
  def charGramHashesCol(text: Column, n: Int = 5): Column =
    gramHashStructs(charGramStringsCol(text, n))

  /** DISTINCT char n-gram STRING array — the per-row form of
    * [[charGramRows]] (the `when` guard mirrors its length filter;
    * too-short docs yield an empty array). The char-unit sibling of
    * [[shingleStringsCol]].
    */
  def charGramStringsCol(text: Column, n: Int = 5): Column = {
    val nt = TextAnalysis.normalized(text)
    when(length(nt) >= n,
      array_distinct(transform(
        sequence(lit(1), length(nt) - (n - 1)),
        p => nt.substr(p, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Component i of the MinHash signature over a [[shingleHashesCol]]
    * array — array_min of the same Kirsch–Mitzenmacher values
    * `minhashSignatures` MINs relationally.
    */
  def minhashComponent(hs: Column, i: Int): Column =
    array_min(transform(hs, h =>
      pmod(h.getField("h1") + lit(i.toLong) * h.getField("h2"),
        lit(MinhashPrime))))

  /** MinHash+LSH near-duplicate pair mining over ANY (id, shingle)
    * relation (word 3-grams, char n-grams, ...).
    *
    * Plan shape (the 100 TB path): the band self-join ships only
    * (id, band, bk); candidate id-pairs come out of the bucket join,
    * are de-duplicated, and verified by counting shared (id, shingle)
    * ROWS — jaccard = |A∩B| / (|A| + |B| − |A∩B|) — never by moving
    * shingle arrays. AQE broadcasts the tiny candidate list into the
    * verify joins; skewed buckets are AQE skew-join territory.
    *
    * Distinct placement — a measured NEGATIVE result (round 5): the
    * corpus-wide distinct up front looks like the bottleneck (2.8s of
    * dedup_ngram's 4.9s at sf0.1, 1.47M occurrence rows -> 1.02M),
    * and MIN-idempotence says signatures don't need it, so a variant
    * was built that fed signatures raw rows and de-duplicated only
    * candidate docs' shingles post-prune (semi join on the candidate
    * id list, broadcast or not). Head-to-head, interleaved, warm,
    * 3 passes: OLD 5.9/4.9/4.9s, NEW 6.8/6.2/8.5s — the raw-row
    * checkpoint write, the extra semi-join pass, and the second
    * distinct cost MORE than the one early shuffle they replace, and
    * the early distinct also shrinks every downstream stage. The
    * up-front distinct stays.
    *
    * @return (id_a, id_b, jaccard) for candidate pairs (same LSH
    *         bucket in >=1 band) whose EXACT shingle Jaccard >= threshold;
    *         id_a < id_b.
    */
  /** LSH candidate pairs with exact overlap stats — the shared tail of
    * every shingle-set near-dup/containment operator: band-bucket
    * candidates, then (|A∩B|, |A|, |B|) per pair via skinny-row joins
    * through the shingle relation. Scoring (Jaccard, containment, …)
    * is a cheap projection on top.
    */
  def candidateOverlap(shingles: DataFrame, numHashes: Int,
      bands: Int, hotCap: Int = 4096, salts: Int = 16): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes)
    // The shingle relation feeds FIVE plan legs (both sides of the
    // band self-join via the signature table, two verify joins, set
    // sizes); the signature table feeds two. Materialize each once —
    // lazy executor-local checkpoint, computed on first use — instead
    // of re-running the explode/distinct/aggregate per leg.
    val shd = shingles.localCheckpoint(false)
    val banded = minhashSignatures(shd, numHashes)
      .localCheckpoint(false).select(col("id"),
      posexplode(bandKeys(bands, rowsPerBand)).as(Seq("band", "bk")))
    val cand = bucketPairs(banded, hotCap, salts)
      .distinct() // a pair may collide in several bands
    // |A∩B| by joining the candidate pairs through the shingle relation.
    val inter = cand
      .join(shd.select(col("id").as("id_a"), col("shingle")), "id_a")
      .join(shd.select(col("id").as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    val cnt = shd.groupBy(col("id")).agg(count(lit(1)).as("n"))
    inter
      .join(cnt.select(col("id").as("id_a"), col("n").as("na")), "id_a")
      .join(cnt.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
  }

  def minhashPairsFromShingles(shingles: DataFrame, numHashes: Int,
      bands: Int, threshold: Double, hotCap: Int = 4096,
      salts: Int = 16): DataFrame =
    candidateOverlap(shingles, numHashes, bands, hotCap, salts)
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Shingle-set CONTAINMENT over the LSH candidates: |A∩B|/|A| and
    * |A∩B|/|B| — catches quotes/boilerplate where a short doc sits
    * inside a long one and symmetric Jaccard stays low. The keep
    * filter and the near_containment flag are pure integer arithmetic
    * (2·inter ≥ min(na,nb) ⇔ the smaller side is half-covered), so no
    * float boundary can flip membership. Caveat, documented: the
    * candidate generator is symmetric Jaccard-LSH, so an extreme
    * size-ratio pair can escape banding — production containment
    * mining would band the SHORTER side's signature only.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8): DataFrame =
    candidateOverlap(shingleRows(df, idCol, textCol), numHashes, bands)
      .filter(col("n_inter") * 2 >= least(col("na"), col("nb")))
      .select(col("id_a"), col("id_b"),
        col("n_inter").cast("long").as("n_inter"),
        round(col("n_inter").cast("double") / col("na"), 6)
          .as("cont_a_in_b"),
        round(col("n_inter").cast("double") / col("nb"), 6)
          .as("cont_b_in_a"),
        when(col("n_inter") * 10 >= least(col("na"), col("nb")) * 9, 1L)
          .otherwise(0L).as("near_containment"))

  /** Word-3-gram MinHash near-dup pairs (the default corpus config). */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.6): DataFrame =
    minhashPairsFromShingles(shingleRows(df, idCol, textCol),
      numHashes, bands, threshold)

  /** Cross-corpus near-dup mining: (id_a from `incoming`, id_b from
    * `corpus`) pairs whose exact shingle Jaccard >= threshold — the
    * incremental-ingest shape: dedup an incoming crawl batch against
    * the existing training set WITHOUT re-mining the corpus against
    * itself (corpus-vs-corpus pairs never form; the corpus side is
    * banded map-side and joined once). Same skinny-band scaffold as
    * `minhashPairsFromShingles`, but the bucket join is two-sided
    * (`ordered=false`: the id spaces are unrelated, so every
    * (incoming, corpus) co-occurrence is kept — including identical
    * ids when the batch overlaps the corpus).
    */
  def minhashJoinPairs(incoming: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, numHashes: Int = 32,
      bands: Int = 8, threshold: Double = 0.6, hotCap: Int = 4096,
      salts: Int = 16): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes)
    // each shingle relation feeds a band leg + a verify join + a count
    val shNew = shingleRows(incoming, idCol, textCol).localCheckpoint(false)
    val shCor = shingleRows(corpus, idCol, textCol).localCheckpoint(false)
    def banded(sh: DataFrame, as: String) =
      minhashSignatures(sh, numHashes).localCheckpoint(false)
        .select(col("id").as(as),
          posexplode(bandKeys(bands, rowsPerBand)).as(Seq("band", "bk")))
    val cand = bucketJoinPairs(banded(shNew, "id_a"),
        banded(shCor, "id_b"), hotCap, salts, ordered = false)
      .distinct()
    val inter = cand
      .join(shNew.select(col("id").as("id_a"), col("shingle")), "id_a")
      .join(shCor.select(col("id").as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    val cntNew = shNew.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val cntCor = shCor.groupBy(col("id")).agg(count(lit(1)).as("n"))
    inter
      .join(cntNew.select(col("id").as("id_a"), col("n").as("na")), "id_a")
      .join(cntCor.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Char-n-gram Jaccard near-dup pairs (same LSH scaffold, char
    * shingles). Default 8 ROWS per band (vs 4 for word shingles):
    * char grams of same-language text overlap heavily, so background
    * pair similarity is much higher — r=8 keeps the candidate rate at
    * s~0.35 below 0.2% while still surfacing s>=0.9 dups with p=0.99.
    *
    * Hash-count tuning, measured at sf0.1 (5k docs, local[32], warm):
    * 64x8 and 32x4 (both r=8) run identically — 4.3s each, same 255
    * pairs — because the cost is the shingle explode/distinct and the
    * relational verify join, not the MIN-column aggregate width; and
    * 32x8 (r=4) is 4x SLOWER (17s): the softer S-curve admits ~11% of
    * background pairs as candidates. 64x8 keeps the strictly better
    * borderline recall (1-(1-s^8)^8 with 8 bands vs 4) at zero
    * measured cost, so it stays.
    */
  def ngramPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, numHashes: Int = 64, bands: Int = 8,
      threshold: Double = 0.6): DataFrame =
    minhashPairsFromShingles(charGramRows(df, idCol, textCol, n),
      numHashes, bands, threshold)

  /** SimHash signature table: (id, sig_hi, sig_lo) — the 64-bit SimHash
    * split into two 32-bit words (each stored in a long), so that every
    * intermediate (shifts, masks, ORs) stays within signed 64-bit range
    * in Spark AND in the DuckDB oracle.
    *
    * Token hash: md5 slices as in MinHash — hi = hex[1..8], lo = hex[9..16].
    * Vote b = sum over tokens of +-1 by bit b; signature bit b = [vote > 0].
    *
    * Implementation is explode + one codegen'd hash-aggregate with 64
    * SUM columns — no interpreted higher-order functions on the hot path.
    */
  def simhashSignatures(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"), col(textCol).as("txt"))
      .select(col("id"), explode(tokens(col("txt"))).as("t"))
    val hashed = tok.select(col("id"),
      h32(col("t"), 1).as("hi"), h32(col("t"), 9).as("lo"))
    def vote(word: Column, b: Int): Column =
      sum(when(shiftright(word, b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1))
    val votes =
      (0 until 32).map(b => vote(col("lo"), b).as(s"v$b")) ++
      (0 until 32).map(b => vote(col("hi"), b).as(s"v${b + 32}"))
    val agg = hashed.groupBy(col("id")).agg(votes.head, votes.tail: _*)
    def pack(base: Int): Column =
      (0 until 32).map(b =>
        when(col(s"v${base + b}") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("id"), pack(32).as("sig_hi"), pack(0).as("sig_lo"))
  }

  /** Near-equal bit widths splitting the 64 signature bits into `n`
    * chunks: Seq of (bitOffset, width). Pigeonhole guarantee: two
    * signatures within Hamming distance n-1 differ in at most n-1
    * chunks, so they share >=1 identical chunk — banding on `n`
    * chunks is COMPLETE for radius n-1.
    */
  def chunkLayout(n: Int): Seq[(Int, Int)] = {
    require(n >= 1 && n <= 64, s"chunk count $n out of range")
    val base = 64 / n
    val widths = Seq.tabulate(n)(i => if (i < 64 % n) base + 1 else base)
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** Bits [off, off+w) of the 64-bit signature stored as two 32-bit
    * words (each in a long) — handles chunks spanning the word split.
    */
  private def sliceBits(hi: Column, lo: Column, off: Int, w: Int): Column =
    if (off + w <= 32)
      shiftright(lo, off).bitwiseAND(lit((1L << w) - 1))
    else if (off >= 32)
      shiftright(hi, off - 32).bitwiseAND(lit((1L << w) - 1))
    else {
      val loBits = 32 - off
      shiftright(lo, off).bitwiseAND(lit((1L << loBits) - 1)).bitwiseOR(
        shiftleft(hi.bitwiseAND(lit((1L << (off + w - 32)) - 1)), loBits))
    }

  /** `numChunks` near-equal bit chunks of the (hi, lo) signature for
    * LSH banding — complete for Hamming distance <= numChunks - 1.
    */
  def simhashChunks(hi: Column, lo: Column, numChunks: Int = 4): Column =
    array(chunkLayout(numChunks).map { case (off, w) =>
      sliceBits(hi, lo, off, w)
    }: _*)

  /** SimHash near-dup candidates, COMPLETE for the advertised radius,
    * then exact Hamming distance on the candidate pairs. Two complete
    * mining strategies, chosen by radius:
    *
    *   - `maxHamming <= 4`: plain chunk banding with maxHamming+1
    *     chunks (pigeonhole: some chunk matches exactly). Chunks stay
    *     >= 12 bits wide, so buckets are selective.
    *   - larger radii: plain banding would need maxHamming+1 chunks of
    *     64/(h+1) bits — at h=8 that is 7-bit keys, 128 distinct
    *     buckets, and a near-quadratic self-join (measured 6M
    *     candidates on 5k docs). Instead: multi-index Hamming search
    *     (the public Norouzi–Punjani–Fleet MIH construction) with
    *     m = ceil((h+1)/2) chunks and per-chunk radius 1 — if every
    *     chunk differed in >= 2 bits the total would exceed h, so some
    *     chunk is within 1 bit (pigeonhole again). Candidates come
    *     from joining each signature's per-chunk 1-bit-flip variants
    *     (w+1 rows per chunk) against exact chunk keys: ~13-bit keys,
    *     linear row blowup, candidate volume ~ true pairs + N^2/2^13
    *     noise instead of N^2/2^7.
    *
    * Either way the final `hamming <= maxHamming` filter makes the
    * output EXACTLY the radius ball — the mining strategy is invisible
    * in the result (and in the oracle).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, hotCap: Int = 4096,
      salts: Int = 16): DataFrame = {
    // sig feeds 4 plan legs (self-join sides + hamming backjoins).
    val sig = simhashSignatures(df, idCol, textCol).localCheckpoint(false)
    val numChunks =
      if (maxHamming <= 4) maxHamming + 1 else (maxHamming + 2) / 2
    val exact = sig.select(col("id"),
      posexplode(simhashChunks(col("sig_hi"), col("sig_lo"), numChunks))
        .as(Seq("band", "bk")))
    val rawCand =
      if (maxHamming <= 4) bucketPairs(exact, hotCap, salts)
      else {
        // 1-bit-flip variant enumeration: per band, XOR the chunk key
        // with 0 and each single-bit mask of that chunk's width.
        val masks: Seq[Seq[Long]] = chunkLayout(numChunks).map {
          case (_, w) => 0L +: (0 until w).map(1L << _)
        }
        // The variant relation feeds TWO plan legs inside
        // bucketJoinPairs: the left-side hot-bucket probe (hotOn(la))
        // and the main bucket join. Checkpoint it once — mirroring
        // `banded` in cosinePairsLsh — so the two-sided hot guard
        // reads the materialized rows instead of re-running the
        // explode per leg.
        val variants = exact.select(col("id").as("id_a"), col("band"),
            col("bk"),
            explode(element_at(typedlit(masks), col("band") + 1))
              .as("mask"))
          .select(col("id_a"), col("band"),
            col("bk").bitwiseXOR(col("mask")).as("bk"))
          .localCheckpoint(false)
        bucketJoinPairs(variants,
          exact.select(col("id").as("id_b"), col("band"), col("bk")),
          hotCap, salts)
      }
    // Verify BEFORE dedup: the hamming check is two broadcast joins +
    // a codegen'd popcount (cheap per row), while `.distinct()` on the
    // raw candidate stream is a full shuffle of it — on clustered
    // corpora (template text → correlated signatures) candidates can
    // approach N^2/100 and the distinct dominated the whole query
    // (measured 5.2s of a 9.7s run at sf0.1). Filtering to the radius
    // ball first shrinks the stream ~75x; duplicate pairs produce
    // identical (id_a, id_b, hamming) rows, so the final distinct is
    // exact and tiny.
    val ham =
      bit_count(col("sa.sig_hi").bitwiseXOR(col("sb.sig_hi"))) +
      bit_count(col("sa.sig_lo").bitwiseXOR(col("sb.sig_lo")))
    rawCand
      .join(sig.as("sa"), col("id_a") === col("sa.id"))
      .join(sig.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"), ham.cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Popcount of (a XOR b) via bit_count (built-in). */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD'03 —
    * the MOSS algorithm): hash every k-token gram, then keep only the
    * MINIMUM hash of each window of `w` consecutive gram positions.
    * Guarantee: two documents sharing a run of at least k + w - 1
    * tokens share at least one selected fingerprint — exact-substring
    * detection like `dedup_spans`, but the per-doc fingerprint table
    * shrinks to ~2/(w+1) of the all-grams table, which at corpus
    * scale is the difference between shuffling every gram and
    * shuffling a thinned signature set. Documents with fewer than w
    * grams keep their single overall-min gram hash (never zero
    * fingerprints); documents shorter than k tokens have no grams and
    * no fingerprints.
    *
    * Both windows partition by doc — one hash-clustered exchange, no
    * global ordering anywhere. Returns distinct (id, fp) rows; `fp`
    * is an md5 hex string so the oracle replays it byte-for-byte.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"winnow: k=$k, w=$w must be >= 1")
    val tok = ScanSpread.spread(df).select(col(idCol).as("id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "w0")))
    val byPos = Window.partitionBy("id").orderBy("pos")
    val leads = (1 until k).map(i => lead("w0", i).over(byPos).as(s"w$i"))
    val grams = tok
      .select(col("id") +: col("pos") +: col("w0") +: leads: _*)
      .filter(col(s"w${k - 1}").isNotNull)
      .select(col("id"), col("pos"),
        md5(concat_ws(" ", (0 until k).map(i => col(s"w$i")): _*)).as("g"))
    // fp(p) = min gram hash over window starts p..p+w-1; only FULL
    // windows select (pos <= ng - w), except short docs (ng <= w)
    // where the single truncated window at pos 0 stands in.
    grams
      .select(col("id"),
        min("g").over(byPos.rowsBetween(0, w - 1)).as("fp"),
        count(lit(1)).over(Window.partitionBy("id")).as("ng"),
        col("pos"))
      .filter(col("pos") <= greatest(col("ng") - w, lit(0)))
      .select(col("id"), col("fp"))
      .distinct()
  }

  /** Candidate near/containment-duplicate pairs from shared winnowing
    * fingerprints: (id_a < id_b, n_shared). Fingerprints seen in more
    * than `maxDocFreq` documents are dropped before pairing (the MOSS
    * over-common-fingerprint rule — corpus boilerplate like license
    * headers would otherwise fan one fingerprint into a quadratic
    * pair pile); the surviving per-fingerprint fan-out is bounded by
    * maxDocFreq^2 pairs, so no bucket can degenerate a task and no
    * salting is needed. `minShared` cuts single-fingerprint noise.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, maxDocFreq: Int = 64,
      minShared: Int = 2): DataFrame = {
    // three consumers below (doc-frequency agg, both sides of the
    // pair self-join) — checkpoint the skinny (id, fp) table so the
    // corpus tokenize + two window passes run once, not three times
    // (the bm25Scored / sim_trajectory pattern)
    val fps = winnowFingerprints(df, idCol, textCol, k, w)
      .localCheckpoint(false)
    val keep = fps.groupBy("fp").agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") > 1 && col("dfc") <= maxDocFreq)
      .select("fp")
    val kept = fps.join(keep, Seq("fp"), "left_semi")
    kept.select(col("fp"), col("id").as("id_a"))
      .join(kept.select(col("fp"), col("id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Content-defined chunking (the LBFS/rsync/restic storage-dedup
    * family): a chunk boundary falls wherever a rolling hash of the
    * last `window` characters hits 0 mod `maskMod`, so an insertion
    * or deletion reshapes only the chunks it touches — unlike
    * fixed-width blocks, where one shifted byte re-keys every block
    * after it. Returns one row per (id, carry…, chunk_idx, chunk);
    * callers aggregate by chunk content to find cross-document
    * duplication. Stateless and map-side throughout, so it runs
    * unchanged on a streaming DataFrame (StreamingOps.cdcGate).
    *
    * Determinism / oracle replay: the window hash is a base-257
    * polynomial over codepoints mod 1,000,003 — every intermediate
    * stays far inside non-negative BIGINT, so trunc and floor agree
    * and DuckDB replays it as a per-window `list_reduce` fold (the
    * text_rollhash seam, without needing HUGEINT wraparound), while
    * the Spark side runs ONE codegen'd rolling pass
    * (`functions/CdcCuts`) maintaining exactly the same per-window
    * value. No min/max chunk clamps: production CDC adds them but
    * they need sequential carry between boundaries; natural
    * boundaries keep the whole operator one map-side projection.
    * Expected chunk length ≈ maskMod chars.
    *
    * Scale shape: per-doc O(len) map-side work inside whole-stage
    * codegen, zero shuffles — the caller's chunk-keyed aggregate is
    * the only exchange, and it is partially aggregated map-side.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, maskMod: Int = 32,
      carry: Seq[String] = Nil): DataFrame = {
    require(window >= 2 && maskMod >= 2,
      s"cdcChunks: window=$window maskMod=$maskMod")
    // one codegen'd rolling pass emits the chunk strings directly
    // (functions/CdcChunks) — assembling them from cdc_cuts with
    // builtin HOFs re-inlined the O(len) pass per chunk element
    // after projection collapse (measured 7.2 s -> sub-second for
    // dedup_cdc at sf0.1)
    df.select(col(idCol).as("id") +: carry.map(col) :+
        posexplode(graft.functions.CdcCuts.cdc_chunks(
          graft.ext.TextAnalysis.normalized(col(textCol)),
          window, maskMod)).as(Seq("chunk_idx", "chunk")): _*)
  }
}
