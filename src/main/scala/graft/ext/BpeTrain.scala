package graft.ext

import graft.functions.BpeReplay
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** BPE vocabulary TRAINING and ENCODING — iterative pair-merge
  * learning, the one classic LLM-pipeline operator the counting-only
  * `text_tokens` query does not cover, plus the apply side.
  *
  * Algorithm (Sennrich et al., "Neural Machine Translation of Rare
  * Words with Subword Units", ACL 2016): start from characters (the
  * word-final character carries a `</w>` marker), repeatedly find the
  * most frequent adjacent symbol pair across the corpus and merge it
  * into one symbol; the learned merge list IS the tokenizer. Encoding
  * replays the merge list (in learned order) over a vocabulary.
  *
  * Scale shape — the part that matters at 100 TB:
  *   - ONE corpus pass: the partial-agg'd word-frequency count and its
  *     top-K (`topWords`) cut, collected once. That table is the
  *     paper's word-frequency dictionary; training never re-scans
  *     text, pair counts are weighted by word frequency instead.
  *   - Every merge round then runs on the driver over that dictionary:
  *     count adjacent pairs, take the argmax, apply only the new merge
  *     to each word's current symbols — O(merges·topWords·wordlen)
  *     driver CPU and no Spark job, where a distributed round costs a
  *     serial driver round trip per merge. The dictionary is bounded
  *     by `MaxTopWords`.
  *   - Encoding segments the DISTINCT corpus vocabulary once with one
  *     map-side projection ([[graft.functions.BpeReplay]]); documents
  *     then join the per-word segmentation — merges never re-run per
  *     document.
  *   - Determinism: ties break on (count DESC, left, right) in binary
  *     UTF-8 order, exactly Spark's string ordering; merges apply
  *     greedily left-to-right without overlap, which inside
  *     equal-symbol runs is the gaps-and-islands even-offset rule. A
  *     SQL engine re-derives the whole merge table round-by-round with
  *     ONE aggregate + set operations per round (`oracleSql` generates
  *     that mirror).
  */
object BpeTrain {

  /** Largest `topWords` training accepts: the dictionary (word,
    * frequency, current symbols) lives on the driver. */
  val MaxTopWords = 1000000

  /** Learn `nMerges` merges from the `topWords` most frequent
    * lowercase words of `textCol`. Returns the merge table:
    * (merge_round, lhs, rhs, cnt) — row r says "round r merged
    * symbols lhs+rhs, which co-occurred cnt times (word-frequency
    * weighted)".
    */
  def train(docs: DataFrame, textCol: String, topWords: Int,
      nMerges: Int): DataFrame = {
    val (merges, _) = trainLoop(docs, textCol, topWords, nMerges)
    docs.sparkSession.createDataFrame(merges)
      .toDF("merge_round", "lhs", "rhs", "cnt")
  }

  /** The learned tokenizer applied to the TRAINING vocabulary: the
    * top-K words' subword segmentation — the final symbol table of
    * the training loop itself. (word, f, pos, sym), pos 1-based.
    */
  def segment(docs: DataFrame, textCol: String, topWords: Int,
      nMerges: Int): DataFrame = {
    val (_, vocab) = trainLoop(docs, textCol, topWords, nMerges)
    val rows = for ((w, f, syms) <- vocab; (sym, i) <- syms.zipWithIndex)
      yield Row(w, f, i + 1, sym)
    docs.sparkSession.createDataFrame(rows.asJava,
      StructType(Seq(StructField("word", StringType),
        StructField("f", LongType, nullable = false),
        StructField("pos", IntegerType, nullable = false),
        StructField("sym", StringType, nullable = false))))
  }

  /** The learned tokenizer applied to the FULL corpus vocabulary:
    * train on the top-K words, then replay the merge list (in learned
    * order) over EVERY distinct word — out-of-vocabulary words
    * degrade gracefully to whatever prefixes/characters the learned
    * merges cover, exactly like a production BPE encoder. Output is
    * the per-word segmentation (word, f, pos, sym); tokenizing
    * documents is then a join against this table.
    *
    * The replay itself is ONE map-side projection —
    * [[graft.functions.BpeReplay]]: the merge list is driver-held and
    * vocab-bounded and each word's segmentation depends on nothing
    * else, so no per-merge shuffle is needed. BpeTrainSpec pins the
    * expression equal to a relational replay symbol-for-symbol.
    */
  def encode(docs: DataFrame, textCol: String, topWords: Int,
      nMerges: Int): DataFrame = {
    val (merges, _) = trainLoop(docs, textCol, topWords, nMerges)
    val flat = merges.flatMap { case (_, l, rr, _) => Seq(l, rr) }
    words(docs, textCol)
      .groupBy("word").agg(count(lit(1)).as("f"))
      .select(col("word"), col("f"),
        posexplode(BpeReplay.bpe_replay(col("word"), flat))
          .as(Seq("p0", "sym")))
      .select(col("word"), col("f"),
        (col("p0") + 1).cast("int").as("pos"), col("sym"))
  }

  /** Lowercase letter-run words, one row each. */
  private[ext] def words(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(regexp_extract_all(lower(col(textCol)),
      lit("[a-z]+"), lit(0))).as("word"))

  /** The training loop, shared by train / segment / encode: the one
    * corpus pass collects the top-K dictionary, then every merge is
    * learned on the driver. Returns (merge list, the dictionary as
    * (word, f, final symbols)).
    */
  private def trainLoop(docs: DataFrame, textCol: String, topWords: Int,
      nMerges: Int): (Seq[(Long, String, String, Long)],
        Seq[(String, Long, Array[String])]) = {
    require(topWords <= MaxTopWords,
      s"BpeTrain: topWords $topWords exceeds $MaxTopWords — training " +
        "holds the top-K vocabulary (word, frequency, current symbols) " +
        "on the driver")
    // deterministic tie-break on the word itself
    val dict = words(docs, textCol)
      .groupBy("word").agg(count(lit(1)).as("f"))
      .orderBy(desc("f"), asc("word")).limit(topWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val syms = dict.map { case (w, _) => BpeReplay.initSyms(w) }
    // argmax tie-break: sym, then nxt ASC in binary UTF-8 order
    // (Spark's string ordering)
    implicit val binary: Ordering[String] = (a, b) =>
      UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var r = 1
    var done = false
    while (r <= nMerges && !done) {
      val pairs = mutable.HashMap.empty[(String, String), Long]
      for (i <- syms.indices; j <- 0 until syms(i).length - 1) {
        val k = (syms(i)(j), syms(i)(j + 1))
        pairs(k) = pairs.getOrElse(k, 0L) + dict(i)._2
      }
      if (pairs.isEmpty) done = true
      else {
        val ((l, rr), c) = pairs.minBy { case ((a, b), n) => (-n, a, b) }
        merges += ((r.toLong, l, rr, c))
        for (i <- syms.indices)
          syms(i) = BpeReplay.mergeOnce(syms(i), l, rr)
        r += 1
      }
    }
    (merges.result(),
      dict.zip(syms).map { case ((w, f), s) => (w, f, s) }.toSeq)
  }

  /** DuckDB re-derivation of the merge table: one CTE block per round
    * mirroring the Spark computation exactly — same tokenization,
    * same argmax tie-break, same even-offset overlap rule, same
    * renumbering. Generated, so Spark and SQL can never drift apart
    * silently (the ZOrder.zValueNSql precedent).
    */
  def oracleSql(table: String, textCol: String, topWords: Int,
      nMerges: Int): String = {
    val out = (1 to nMerges).map { r =>
      s"SELECT CAST($r AS BIGINT) AS merge_round, l AS lhs, rr AS rhs, cnt FROM best$r"
    }.mkString("\n UNION ALL ")
    s"WITH ${trainCtes(table, textCol, topWords, nMerges)}\n $out"
  }

  /** Oracle for `segment`: the same generated chain, selecting the
    * final round's symbol table instead of the merge list. */
  def segmentOracleSql(table: String, textCol: String, topWords: Int,
      nMerges: Int): String =
    s"WITH ${trainCtes(table, textCol, topWords, nMerges)}\n" +
      s" SELECT word, f, pos, sym FROM tok$nMerges"

  /** Oracle for `encode`: the train chain feeds a second apply-only
    * chain over the FULL vocabulary — each round reuses `best{r}`
    * (no argmax) and the same candidate/overlap/rebuild CTEs. */
  def encodeOracleSql(table: String, textCol: String, topWords: Int,
      nMerges: Int): String = {
    val applyRounds = (1 to nMerges)
      .map(r => roundCtes("f", r, best = false)).mkString(",\n")
    s"""WITH ${trainCtes(table, textCol, topWords, nMerges)},
       ${initCtes("f", table, textCol, limit = None)},
       $applyRounds
       SELECT word, f, pos, sym FROM ftok$nMerges"""
  }

  /** The w/chars/tok0 CTE triple: top-K vocabulary when `limit` is
    * set (training), the full distinct vocabulary otherwise
    * (encoding). All MATERIALIZED: DuckDB inlines plain CTEs, and a
    * 10-round chain re-expands the scan exponentially without it. */
  private def initCtes(p: String, table: String, textCol: String,
      limit: Option[Int]): String = {
    val lim = limit.map(k => s"ORDER BY f DESC, word LIMIT $k")
      .getOrElse("")
    s"""${p}w AS MATERIALIZED (
         SELECT word, CAST(count(*) AS BIGINT) AS f FROM (
           SELECT unnest(regexp_extract_all(lower($textCol), '[a-z]+'))
             AS word FROM $table)
         GROUP BY word $lim),
       ${p}chars AS MATERIALIZED (
         SELECT word, f,
                unnest(generate_series(1, length(word))) AS pos
         FROM ${p}w),
       ${p}tok0 AS MATERIALIZED (
         SELECT word, f, pos,
                substr(word, CAST(pos AS INTEGER), 1) ||
                  CASE WHEN pos = length(word) THEN '</w>' ELSE '' END
                  AS sym
         FROM ${p}chars)"""
  }

  /** One round's CTEs under prefix `p`: pair inventory, (for training
    * only) the argmax `best{r}`, candidates, the even-offset overlap
    * rule, and the rebuilt symbol table. Apply-only chains (`best =
    * false`) join the TRAIN chain's `best{r}` instead. */
  private def roundCtes(p: String, r: Int, best: Boolean): String = {
    val bestCte = if (!best) "" else s"""
         best$r AS MATERIALIZED (
           SELECT sym AS l, nxt AS rr, CAST(sum(f) AS BIGINT) AS cnt
           FROM nx$r WHERE nxt IS NOT NULL
           GROUP BY sym, nxt ORDER BY cnt DESC, l, rr LIMIT 1),"""
    s"""${p}nx$r AS MATERIALIZED (
           SELECT word, f, pos, sym,
                  lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
           FROM ${p}tok${r - 1}),$bestCte
         ${p}cand$r AS MATERIALIZED (
           SELECT n.word, n.pos
           FROM ${p}nx$r n, best$r b WHERE n.sym = b.l AND n.nxt = b.rr),
         ${p}sel$r AS MATERIALIZED (
           SELECT word, pos FROM (
             SELECT word, pos,
                    pos - min(pos) OVER (PARTITION BY word, grp) AS off
             FROM (SELECT word, pos,
                          pos - row_number() OVER (PARTITION BY word
                            ORDER BY pos) AS grp
                   FROM ${p}cand$r))
           WHERE off % 2 = 0),
         ${p}tok$r AS MATERIALIZED (
           SELECT word, f,
                  row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
                  sym
           FROM (
             SELECT t.word, t.f, t.pos,
                    CASE WHEN m.pos IS NOT NULL THEN t.sym || b.rr
                         ELSE t.sym END AS sym
             FROM ${p}tok${r - 1} t
             LEFT JOIN best$r b ON true
             LEFT JOIN ${p}sel$r m ON t.word = m.word AND t.pos = m.pos
             LEFT JOIN ${p}sel$r d ON t.word = d.word AND t.pos = d.pos + 1
             WHERE d.pos IS NULL))"""
  }

  private def trainCtes(table: String, textCol: String, topWords: Int,
      nMerges: Int): String = {
    val rounds = (1 to nMerges)
      .map(r => roundCtes("", r, best = true)).mkString(",\n")
    s"""${initCtes("", table, textCol, Some(topWords))},
       $rounds"""
  }
}
