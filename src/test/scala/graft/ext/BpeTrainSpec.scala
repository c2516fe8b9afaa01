package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BpeTrain must reproduce the classic hand-derivable merge sequences:
  * the Sennrich et al. example corpus, and an equal-symbol run where a
  * wrong overlap rule (merging both positions of "a a a a") would show
  * up directly in the learned counts.
  */
class BpeTrainSpec extends SparkSpec {
  private lazy val implicits = spark.implicits
  import implicits._

  private def corpus(wordFreq: (String, Int)*) =
    wordFreq.flatMap { case (w, n) => Seq.fill(n)(w) }
      .mkString(" ").split(" ").grouped(8).map(_.mkString(" ")).toSeq
      .toDF("text")

  test("classic low/lower/newest/widest corpus learns the textbook " +
      "merge sequence with exact counts") {
    val docs = corpus("low" -> 5, "lower" -> 2, "newest" -> 6,
      "widest" -> 3)
    val got = BpeTrain.train(docs, "text", 10, 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(got == Seq(
      // (e,s) and (s,t</w>) tie at 9 — lexicographic tie-break picks e
      (1L, "e", "s", 9L),
      (2L, "es", "t</w>", 9L),
      (3L, "l", "o", 7L),
      // (n,e), (e,w), (w,est</w>) tie at 6 — lexicographic pick (e,w)
      (4L, "e", "w", 6L),
      // (ew,est</w>) vs (n,ew) tie at 6 — "ew" < "n"
      (5L, "ew", "est</w>", 6L)))
  }

  test("equal-symbol runs merge greedily left-to-right, never " +
      "overlapping") {
    // "aaaa" = a a a a</w>: the (a,a) candidates at pos 1 and 2
    // overlap; greedy BPE merges only pos 1 → "aa a a</w>". A rule
    // that merged both would corrupt the round-2 pair inventory.
    val docs = corpus("aaaa" -> 3)
    val got = BpeTrain.train(docs, "text", 10, 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(got == Seq(
      (1L, "a", "a", 6L),
      (2L, "a", "a</w>", 3L),
      (3L, "aa", "aa</w>", 3L)))
    // the loop stops once every word is a single symbol (3 < nMerges)
  }

  test("segment returns the learned segmentation of each vocab word") {
    val docs = corpus("low" -> 5, "lower" -> 2, "newest" -> 6,
      "widest" -> 3)
    val seg = BpeTrain.segment(docs, "text", 10, 5).collect()
      .map(r => (r.getString(0), r.getInt(2), r.getString(3)))
      .groupBy(_._1)
      .map { case (w, rows) => w -> rows.sortBy(_._2).map(_._3).toSeq }
    // after merges es, est</w>, lo, ew, ewest</w>:
    assert(seg("low") == Seq("lo", "w</w>"))
    assert(seg("lower") == Seq("lo", "w", "e", "r</w>"))
    assert(seg("newest") == Seq("n", "ewest</w>"))
    assert(seg("widest") == Seq("w", "i", "d", "est</w>"))
  }

  test("encode replays merges over the FULL vocabulary; OOV words " +
      "get partial merges, never an error") {
    // train sees only the top-2 words (newest x6, widest x3); "lowest"
    // never enters training but shares the e-s-t</w> suffix, so the
    // learned merges (e,s) and (es,t</w>) still compress it
    val docs = corpus("newest" -> 6, "widest" -> 3, "lowest" -> 1)
    val seg = BpeTrain.encode(docs, "text", 2, 3).collect()
      .map(r => (r.getString(0), r.getInt(2), r.getString(3)))
      .groupBy(_._1)
      .map { case (w, rows) => w -> rows.sortBy(_._2).map(_._3).toSeq }
    assert(seg.keySet == Set("newest", "widest", "lowest"),
      "every distinct word must be segmented, in or out of vocab")
    assert(seg("lowest").contains("est</w>"),
      s"OOV word should still benefit from learned merges: " +
        seg("lowest").mkString("|"))
  }

  test("training is deterministic across runs") {
    val docs = corpus("banana" -> 4, "bandana" -> 2, "cabana" -> 3)
    val a = BpeTrain.train(docs, "text", 10, 8).collect().toSeq
    val b = BpeTrain.train(docs, "text", 10, 8).collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("job floor: every merge is learned on the driver — 1 and 8 " +
      "merges fire the same Spark jobs, at most 5") {
    val docs = corpus("banana" -> 4, "bandana" -> 2, "cabana" -> 3)
    def jobs(n: Int) = sparkWorkOf {
      assert(BpeTrain.train(docs, "text", 10, n).collect().length == n)
    }.jobs
    val (one, eight) = (jobs(1), jobs(8))
    assert(one.length == eight.length && eight.length <= 5,
      s"1 merge: ${one.length} jobs, 8 merges: ${eight.length} jobs\n" +
        eight.mkString("\n----\n"))
  }

  test("topWords above MaxTopWords fails before any Spark job runs") {
    val docs = corpus("low" -> 5, "lower" -> 2)
    val work = sparkWorkOf {
      val e = intercept[IllegalArgumentException](
        BpeTrain.segment(docs, "text", BpeTrain.MaxTopWords + 1, 5))
      assert(e.getMessage.contains("on the driver"), e.getMessage)
    }
    assert(work.jobs.isEmpty, work.jobs.mkString("\n----\n"))
  }

  test("map-side encode equals the relational replay " +
      "symbol-for-symbol, including greedy equal-symbol runs") {
    def asMap(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getString(3)))
      .groupBy(_._1)
      .map { case (w, rs) =>
        (w, rs.head._2) -> rs.sortBy(_._3).map(_._4).toSeq
      }
    // aaaa/aaab force repeated (a,a) merges where the even-offset
    // rule and the sequential greedy must agree; banana-family words
    // exercise overlapping learned merges; OOV comes via topWords=3
    val docs = corpus("banana" -> 5, "bandana" -> 3, "aaaa" -> 4,
      "aaab" -> 2, "cabana" -> 2, "abracadabra" -> 1)
    val fast = asMap(BpeTrain.encode(docs, "text", 3, 8).collect())
    val slow = asMap(
      BpeTrainSpec.encodeRelational(docs, "text", 3, 8).collect())
    assert(fast == slow, s"\nfast $fast\nslow $slow")
    assert(fast.nonEmpty &&
      fast.keys.map(_._1).toSet.contains("abracadabra"))
  }
}

object BpeTrainSpec {
  /** The relational replay of `BpeTrain.encode` — the SQL oracle's
    * per-round machinery (lead window, even-offset overlap rule, two
    * keyed joins per merge) driven over the full vocabulary. The
    * differential baseline `encode` is pinned against: the two must
    * agree symbol-for-symbol on every word, including greedy
    * equal-run behavior.
    */
  def encodeRelational(docs: DataFrame, textCol: String,
      topWords: Int, nMerges: Int): DataFrame = {
    val merges = BpeTrain.train(docs, textCol, topWords, nMerges)
      .collect().map(r => (r.getString(1), r.getString(2)))
    val allFreq = BpeTrain.words(docs, textCol)
      .groupBy("word").agg(count(lit(1)).as("f"))
    var tok = initTok(allFreq)
    for ((l, rr) <- merges) tok = applyMerge(tok, l, rr)
    tok.select(col("word"), col("f"), col("pos"), col("sym"))
  }

  /** Character-level init; the last character carries the end-of-word
    * marker so merges cannot cross word boundaries. sequence+substr
    * (not split(word, "")) — Spark's regex split emits a trailing
    * empty element the SQL mirror would not.
    */
  private def initTok(freq: DataFrame): DataFrame = freq
    .select(col("word"), col("f"),
      explode(sequence(lit(1), length(col("word")))).as("pos"))
    .select(col("word"), col("f"), col("pos"),
      concat(expr("substr(word, pos, 1)"),
        when(col("pos") === length(col("word")), lit("</w>"))
          .otherwise(lit(""))).as("sym"))
    .localCheckpoint(false)

  /** One merge application: replace every non-overlapping adjacent
    * (l, rr) pair with the concatenated symbol, renumber positions.
    * Greedy left-to-right non-overlap: in a run of consecutive
    * candidates (only possible when l == rr, e.g. "a a a a"), keep
    * the even offsets from the run start — gaps-and-islands, no
    * sequential scan needed.
    */
  private def applyMerge(tok: DataFrame, l: String, rr: String)
      : DataFrame = {
    val byWord = Window.partitionBy("word").orderBy("pos")
    val cand = tok
      .withColumn("nxt", lead(col("sym"), 1).over(byWord))
      .filter(col("sym") === l && col("nxt") === rr)
      .select("word", "pos")
    val sel = cand
      .withColumn("grp", col("pos") - row_number().over(byWord))
      .withColumn("off", col("pos") -
        min(col("pos")).over(Window.partitionBy("word", "grp")))
      .filter(col("off") % 2 === 0)
      .select(col("word"), col("pos")).localCheckpoint(false)
    val mSel = sel.select(col("word").as("mword"), col("pos").as("mpos"))
    val dSel = sel.select(col("word").as("dword"), col("pos").as("dpos"))
    tok
      .join(mSel, col("word") === col("mword") &&
        col("pos") === col("mpos"), "left")
      .join(dSel, col("word") === col("dword") &&
        col("pos") === col("dpos") + 1, "left")
      .filter(col("dpos").isNull)
      .select(col("word"), col("f"), col("pos"),
        when(col("mpos").isNotNull, concat(col("sym"), lit(rr)))
          .otherwise(col("sym")).as("sym"))
      .withColumn("pos", row_number().over(byWord))
      .localCheckpoint(false)
  }
}
