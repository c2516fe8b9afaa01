package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.queries.Tables

/** Derive a larger scale factor from driver testdata by row
  * replication — the driver ships sf0.001/0.01/0.1 only
  * (TESTDATA.md), and VERDICT r10 #7 asks for one order of magnitude
  * up so "domain-bounded, never corpus-sized" scaling claims become
  * measurements instead of arguments.
  *
  * Replication semantics (replica r in 0..reps-1):
  *  - Dims `region`/`nation` are copied as-is (TPC-H keeps them
  *    fixed at every sf).
  *  - Every scaling table gets `reps` copies with all BIGINT
  *    key/FK columns offset by `r * stride`, consistently across
  *    tables, so every foreign-key relationship of the original
  *    holds inside each replica and never crosses replicas —
  *    join/agg selectivities are preserved exactly.
  *  - `documents.text`: replica r>0 caesar-shifts every letter by r
  *    (a-z and A-Z rotate independently; digits/punct/whitespace
  *    unchanged). Plain replication would make each doc an EXACT
  *    10-way duplicate, which multiplies every dedup operator's
  *    LSH/tokenset bucket membership 10x and its in-bucket pair
  *    work 100x — a data artifact of the derivation, not a property
  *    of 10x more real data. (A first attempt suffixed each token
  *    with `_r{r}`: word tokens diverged but every INTERIOR char
  *    5-gram stayed shared cross-replica, and dedup_ngram's minhash
  *    buckets went 10x-degenerate — 1004 s at sf1.0.) The caesar map
  *    is bijective per character, so each replica's internal
  *    near-dup structure, token/char-length distributions, and
  *    n_chars are preserved EXACTLY while word tokens, char grams,
  *    and shingle spaces are all cross-replica disjoint.
  *  - `embeddings.embedding`: replica r>0 circularly shifts the
  *    vector by r*13 positions (13 is coprime to the 64 dims).
  *    Norms, labels, and within-replica cluster geometry are
  *    preserved exactly; cross-replica cosines drop to
  *    random-vector levels. (The first attempt added ±0.05 jitter:
  *    cross-replica cosine stayed ~0.99 — above the 0.9 near-dup
  *    threshold — so dedup_embed found 9 planted "near-dups" per
  *    vector that 10x more real data would not have.)
  *
  * Usage: runMain graft.tools.DeriveSf [srcDir] [outDir] [reps]
  * Defaults: /root/testdata/sf0.1 -> target/testdata/sf1.0, 10x.
  */
object DeriveSf {
  /** > max key in any driver table (orders at sf0.1 is 150k; leaves
    * ~9e17 headroom before BIGINT overflow at reps=10).
    */
  val Stride = 10000000L

  def replicate(df: DataFrame, reps: Int)(
      perReplica: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until reps).map(r => perReplica(df, r)).reduce(_ unionAll _)

  def offset(df: DataFrame, r: Int, keys: String*): DataFrame =
    keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(r * Stride)))

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/testdata/sf1.0")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.local()

    def write(name: String, df: DataFrame, parts: Int): Unit = {
      df.repartition(parts)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[derive] $name -> $out/$name.parquet")
    }

    // fixed dims: copy through
    write("region", Tables.region(spark, src), 1)
    write("nation", Tables.nation(spark, src), 1)

    write("customer",
      replicate(Tables.customer(spark, src), reps)(offset(_, _, "c_custkey")), 4)
    write("supplier",
      replicate(Tables.supplier(spark, src), reps)(offset(_, _, "s_suppkey")), 1)
    write("part",
      replicate(Tables.part(spark, src), reps)(offset(_, _, "p_partkey")), 4)
    write("orders",
      replicate(Tables.orders(spark, src), reps)(
        offset(_, _, "o_orderkey", "o_custkey")), 32)
    write("lineitem",
      replicate(Tables.lineitem(spark, src), reps)(
        offset(_, _, "l_orderkey", "l_partkey", "l_suppkey")), 64)
    write("events",
      replicate(Tables.events(spark, src), reps)(
        offset(_, _, "event_id", "user_id")), 32)

    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    def caesar(s: String, r: Int): String =
      s.drop(r % 26) + s.take(r % 26)
    write("documents",
      replicate(Tables.documents(spark, src), reps) { (df, r) =>
        val keyed = offset(df, r, "doc_id")
        if (r == 0) keyed
        else keyed.withColumn("text",
          translate(col("text"), lower + upper,
            caesar(lower, r) + caesar(upper, r)))
      }, 8)

    write("embeddings",
      replicate(Tables.embeddings(spark, src), reps) { (df, r) =>
        val keyed = offset(df, r, "vec_id")
        val dim = 64
        val s = (r * 13) % dim
        if (s == 0) keyed
        else keyed.withColumn("embedding",
          concat(slice(col("embedding"), s + 1, dim - s),
            slice(col("embedding"), 1, s)))
      }, 4)

    spark.stop()
  }
}
