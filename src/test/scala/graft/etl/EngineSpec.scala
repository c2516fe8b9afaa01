package graft.etl

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, concat, lit}
import graft.SparkSpec

/** Golden end-to-end semantics tests — the FIXTURES.md people/Map
  * fixture plus every verified evaluator edge case (SURVEY.md §5.2).
  */
class EngineSpec extends SparkSpec {

  private lazy val people = {
    val s = spark
    import s.implicits._
    Seq(
      ("Ana", "25", "Cali", "10", "50%"),
      ("Bob", "17", "Lima", "10.0", "7%"),
      ("Cleo", "abc", "", "3", "110%"),
      ("Dan", "30", "Cali", "B", "0%")
    ).toDF("Name", "Age", "City", "Score", "Pct")
  }

  private def run(rules: (String, String)*): Seq[Row] =
    Engine.transform(people.coalesce(1), rules).collect().toSeq

  test("FIXTURES.md golden output (filters, direct, constant, formula, self)") {
    val out = Engine.transform(people.coalesce(1), Seq(
      "// demographics block" -> "",
      "_filter:adults" -> "eval: src[Age] >= 18 || src[City] == Cali",
      "_filter:note"   -> "anything",
      "Name"     -> "src[Name]",
      "City"     -> "src[City]",
      "Status"   -> "constant:Active",
      "Doubled"  -> "formula:=src[Score]*2",
      "Combined" -> "formula:=self[Doubled]&\" in \"&src[City]"
    ))
    assert(out.columns.toSeq ==
      Seq("Name", "City", "Status", "Doubled", "Combined"))
    val rows = out.collect().sortBy(_.getString(0)).toSeq
    assert(rows == Seq(
      Row("Ana", "Cali", "Active", "=10*2", "=D2&\" in \"&\"Cali\""),
      Row("Dan", "Cali", "Active", "=\"B\"*2", "=D3&\" in \"&\"Cali\"")))
  }

  test("self[] row numbering is DISTRIBUTED: correct 1-based global " +
      "positions across many input partitions, no unpartitioned " +
      "WindowExec, and the sort lineage materializes ONCE (layout " +
      "consistency under AQE; downstream actions reuse it)") {
    val s = spark
    import s.implicits._
    // 500 rows scattered over 16 partitions, filter keeps every 3rd;
    // self[] addresses must reflect POST-filter global order by key
    val src = (0 until 500).map(i => (i.toString, s"n$i", (i % 3).toString))
      .toDF("K", "Name", "M").repartition(16)
    val out = Engine.transform(src,
      Seq("_filter:keep" -> "eval: src[M] == 0",
        "Name" -> "src[Name]",
        "Addr" -> "formula:=self[Name]"),
      ingestOrder = Seq(org.apache.spark.sql.functions.col("K").cast("long")))
    import org.apache.spark.sql.execution.window.WindowExec
    val unpart = out.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(unpart.isEmpty,
      "self[] numbering must never build an unpartitioned window " +
        "(its only window is the bounded per-shard offset table):\n" +
        out.queryExecution.executedPlan)
    val got = out.collect().map(r => r.getString(0) -> r.getString(1))
      .toMap
    // K=0 is post-filter row 1 -> spreadsheet row 2 (header offset
    // matches the golden fixture's D2 convention), K=3 -> row 3, ...
    val expected = (0 until 500 by 3).zipWithIndex.map {
      case (k, i) => s"n$k" -> s"=A${i + 2}"
    }.toMap
    assert(got.size == expected.size)
    val bad = expected.collect {
      case (n, a) if got(n) != a => s"$n: got ${got(n)} want $a" }
    assert(bad.isEmpty, bad.take(5).toString)
  }

  test("loose equality is string equality: 10 == 10.0 is false") {
    val rows = run("_filter:x" -> "eval: src[Score] == 10", "N" -> "src[Name]")
    assert(rows.map(_.getString(0)) == Seq("Ana"))
  }

  test("!= on strings") {
    val rows = run("_filter:x" -> "eval: src[City] != Cali", "N" -> "src[Name]")
    assert(rows.map(_.getString(0)).sorted == Seq("Bob", "Cleo"))
  }

  test("parseFloat prefix: '50%' >= 18 is true, 'abc' relational is false") {
    val rows = run("_filter:x" -> "eval: src[Pct] >= 18", "N" -> "src[Name]")
    assert(rows.map(_.getString(0)).sorted == Seq("Ana", "Cleo"))
  }

  test("NaN comparisons are false, not errors") {
    val rows = run("_filter:x" -> "eval: src[Age] < 100", "N" -> "src[Name]")
    // Cleo: parseFloat("abc") = NaN → false
    assert(rows.map(_.getString(0)).sorted == Seq("Ana", "Bob", "Dan"))
  }

  test("op-less / mis-arity condition → false (drops all rows here)") {
    assert(run("_filter:x" -> "eval: nothing", "N" -> "src[Name]").isEmpty)
    assert(run("_filter:x" -> "eval: a==b==c", "N" -> "src[Name]").isEmpty)
  }

  test("AND across filter rules, OR within") {
    val rows = run(
      "_filter:a" -> "eval: src[Age] >= 18",
      "_filter:b" -> "eval: src[City] == Cali || src[City] == Lima",
      "N" -> "src[Name]")
    assert(rows.map(_.getString(0)).sorted == Seq("Ana", "Dan"))
  }

  test("NaN disjunct ORs correctly with a true disjunct") {
    val rows = run(
      "_filter:x" -> "eval: src[Age] >= 18 || src[City] == \"\"",
      "N" -> "src[Name]")
    // Cleo passes via empty City even though Age is NaN
    assert(rows.map(_.getString(0)).sorted == Seq("Ana", "Cleo", "Dan"))
  }

  test("direct: bare header resolves to column; non-header is literal") {
    val rows = run("N" -> "Name", "L" -> "NotAHeader")
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("Ana", "NotAHeader"), ("Bob", "NotAHeader"),
          ("Cleo", "NotAHeader"), ("Dan", "NotAHeader")))
  }

  test("formula quoting: empty cell splices unquoted (isNaN('') is false)") {
    val rows = run("_filter:x" -> "eval: src[Name] == Cleo",
      "F" -> "formula:=+src[City]")
    assert(rows.map(_.getString(0)) == Seq("=+"))
  }

  test("formula quoting: percent stays bare, text gets quoted") {
    val rows = run("_filter:x" -> "eval: src[Name] == Dan",
      "P" -> "formula:=src[Pct]", "B" -> "formula:=src[Score]")
    assert(rows.head.getString(0) == "=0%")
    assert(rows.head.getString(1) == "=\"B\"")
  }

  test("unresolved self[] passes through literally") {
    val rows = run("_filter:x" -> "eval: src[Name] == Ana",
      "F" -> "formula:=self[Later]+1")
    assert(rows.head.getString(0) == "=self[Later]+1")
  }

  test("self[] sees only earlier columns; duplicate header: latest wins") {
    val rows = run("_filter:x" -> "eval: src[Name] == Ana",
      "X" -> "constant:1",
      "X" -> "constant:2",
      "R" -> "formula:=self[X]")
    // two X columns at letters A and B; latest earlier = B; row 2
    assert(rows.head.getString(2) == "=B2")
  }

  test("duplicate source headers: last wins") {
    val s = spark
    import s.implicits._
    val df = Seq(("l", "r")).toDF("D", "D")
    val out = Engine.transform(df, Seq("V" -> "src[D]"))
    assert(out.collect().head.getString(0) == "r")
  }

  test("null cells read as empty strings") {
    val s = spark
    import s.implicits._
    val df = Seq((Some("a"), None: Option[String]), (Some("b"), Some("x")))
      .toDF("K", "V")
    val rows = Engine.transform(df, Seq(
      "_filter:x" -> "eval: src[V] == \"\"", "K" -> "src[K]")).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a"))
  }

  test("typed source is viewed through display strings") {
    val s = spark
    import s.implicits._
    val df = Seq((1, 2.5, true)).toDF("i", "d", "b")
    val rows = Engine.transform(df,
      Seq("I" -> "src[i]", "D" -> "src[d]", "B" -> "src[b]")).collect()
    assert(rows.head == Row("1", "2.5", "true"))
  }

  test("_join: inner join on display-string equality; joined columns " +
      "project, filter, and shadow on name collision") {
    val s = spark
    import s.implicits._
    val src = Seq(("o1", "c1"), ("o2", "c2"), ("o3", "cX"))
      .toDF("Order", "Cust")
    val cust = Seq(("c1", "Ada", "A"), ("c2", "Bob", "B"))
      .toDF("Id", "Cust", "Tier") // `Cust` collides with the source
    val rows = Engine.transform(src, Seq(
      "_join:Customers" -> "src[Cust] == other[Id]",
      "_filter:t" -> "eval: src[Tier] != B",
      "O" -> "src[Order]",
      // post-join, src[Cust] is the JOINED sheet's column (last-wins)
      "C" -> "src[Cust]"),
      sheets = Map("Customers" -> cust)).collect()
    // o3/cX has no match (inner join); o2 filtered by Tier != B
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("o1", "Ada")))
  }

  test("_join: display-string equality means typed keys join their " +
      "string forms (int 1 == '1')") {
    val s = spark
    import s.implicits._
    val src = Seq((1, "x"), (2, "y")).toDF("K", "V")
    val other = Seq(("1", "one")).toDF("K2", "Word")
    val rows = Engine.transform(src, Seq(
      "_join:W" -> "src[K] == other[K2]",
      "V" -> "src[V]", "W" -> "src[Word]"),
      sheets = Map("W" -> other)).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("x", "one")))
  }

  test("_type: violations abort eagerly at transform() with count + " +
      "example + rule context; passing declarations are a no-op") {
    val s = spark
    import s.implicits._
    val df = Seq(("1", "a"), ("x7", "b"), ("", "c"), ("2.5", ""))
      .toDF("Num", "Tag")
    // Num as numeric: "x7" violates (1 value); blank passes
    val e = intercept[graft.etl.dsl.Ast.DslError] {
      Engine.transform(df, Seq("_type:Num" -> "numeric",
        "N" -> "src[Num]"))
    }
    assert(e.message.contains("Num") && e.message.contains("1 value") &&
      e.message.contains("x7") && e.message.contains("_type:Num"),
      e.message)
    // integer: "2.5" AND "x7" violate (2 values)
    val e2 = intercept[graft.etl.dsl.Ast.DslError] {
      Engine.transform(df, Seq("_type:Num" -> "integer",
        "N" -> "src[Num]"))
    }
    assert(e2.message.contains("2 value"), e2.message)
    // nonempty on Tag: the "" cell violates
    intercept[graft.etl.dsl.Ast.DslError] {
      Engine.transform(df, Seq("_type:Tag" -> "nonempty",
        "N" -> "src[Num]"))
    }
    // all-holding declarations: output = plain projection
    val ok = Engine.transform(df.filter($"Num" =!= "x7"), Seq(
      "_type:Num" -> "numeric", "N" -> "src[Num]")).collect()
    assert(ok.map(_.getString(0)).sorted.toSeq == Seq("", "1", "2.5"))
  }

  test("_type: date validates shape AND calendar validity") {
    val s = spark
    import s.implicits._
    val bad = Seq("2023-02-30").toDF("D") // shape ok, invalid date
    intercept[graft.etl.dsl.Ast.DslError] {
      Engine.transform(bad, Seq("_type:D" -> "date", "N" -> "src[D]"))
    }
    val ok = Seq("2024-02-29", "").toDF("D") // leap day + blank pass
    assert(Engine.transform(ok,
      Seq("_type:D" -> "date", "N" -> "src[D]")).count() == 2)
  }

  test("_plugin: built-ins chain in rule order; custom registration " +
      "works; a layout-breaking plugin aborts contextually; unknown " +
      "plugin is a parse error listing the registry") {
    val s = spark
    import s.implicits._
    val df = Seq((" a ", "1"), ("a", "1"), ("b", "2")).toDF("K", "V")
    // trim then dedupe: the padded duplicate collapses
    val rows = Engine.transform(df, Seq(
      "_plugin:trim_cells" -> "",
      "_plugin:dedupe" -> "",
      "K" -> "src[K]", "V" -> "src[V]")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("a", "1"), ("b", "2")))
    // order matters: dedupe BEFORE trim keeps all three
    val rows2 = Engine.transform(df, Seq(
      "_plugin:dedupe" -> "",
      "_plugin:trim_cells" -> "",
      "K" -> "src[K]")).count()
    assert(rows2 == 3)
    // custom plugin via the registry, with args
    Engine.registerPlugin("suffix", (d, args) =>
      d.withColumn("K", concat(col("K"), lit(args))))
    val got = Engine.transform(df.limit(1), Seq(
      "_plugin:suffix" -> "!", "K" -> "src[K]"))
      .collect().head.getString(0)
    assert(got.endsWith("!"), got)
    // layout preservation enforced: a column-dropping plugin aborts
    Engine.registerPlugin("bad", (d, _) => d.drop("V"))
    val e = intercept[graft.etl.dsl.Ast.DslError] {
      Engine.transform(df, Seq("_plugin:bad" -> "", "K" -> "src[K]"))
        .collect()
    }
    assert(e.message.contains("preserve") && e.message.contains("bad"),
      e.message)
    // unknown plugin: contextual parse error listing the registry
    val e2 = intercept[graft.etl.dsl.Ast.DslError] {
      Engine.transform(df, Seq("_plugin:nope" -> "", "K" -> "src[K]"))
    }
    assert(e2.message.contains("nope") &&
      e2.message.contains("dedupe"), e2.message)
    // upper's column arg is validated
    val e3 = intercept[graft.etl.dsl.Ast.DslError] {
      Engine.transform(df, Seq("_plugin:upper" -> "Ghost",
        "K" -> "src[K]")).collect()
    }
    assert(e3.message.contains("Ghost"), e3.message)
  }

  test("eval2: extended expressions end-to-end — && within a rule, " +
      "AND across rules still applies, ! is two-valued over " +
      "unevaluable comparisons (NaN leaf is false, so !leaf keeps " +
      "the row)") {
    // Ana 25 Cali | Bob 17 Lima | Cleo abc '' | Dan 30 Cali
    val out = run(
      "_filter:a" -> "eval2: src[Age] >= 18 && src[City] == Cali",
      "Name" -> "src[Name]")
    assert(out.map(_.getString(0)).sorted == Seq("Ana", "Dan"))
    // mixed faithful + extended rules AND together
    val out2 = run(
      "_filter:a" -> "eval2: src[Age] >= 18 && src[City] == Cali",
      "_filter:b" -> "eval: src[Age] <= 27",
      "Name" -> "src[Name]")
    assert(out2.map(_.getString(0)) == Seq("Ana"))
    // ! over a NaN comparison: parseFloat('abc') is NaN, the leaf is
    // FALSE (not null), so the negation keeps Cleo — JS semantics,
    // where SQL three-valued NOT(null) would silently drop her
    val out3 = run(
      "_filter:n" -> "eval2: !(src[Age] > 5)",
      "Name" -> "src[Name]")
    assert(out3.map(_.getString(0)) == Seq("Cleo"))
    // nested groups + negation compose
    val out4 = run(
      "_filter:g" -> ("eval2: !(src[City] == Lima || src[City] == ) " +
        "&& (src[Age] < 28 || src[Score] == B)"),
      "Name" -> "src[Name]")
    assert(out4.map(_.getString(0)).sorted == Seq("Ana", "Dan"))
  }

  test("_type: on a ZERO-ROW input passes vacuously (sum over empty " +
      "aggregates to null — must not NPE)") {
    val s = spark
    import s.implicits._
    val empty = Seq(("x", "y")).toDF("Num", "Tag").filter(lit(false))
    val out = Engine.transform(empty, Seq(
      "_type:Num" -> "numeric", "_type:Tag" -> "nonempty",
      "N" -> "src[Num]"))
    assert(out.count() == 0)
  }

  test("self[] + _join: without an explicit ingestOrder fails fast " +
      "(multi-match joins duplicate the default ingest stamp)") {
    val s = spark
    import s.implicits._
    val src = Seq(("1", "a")).toDF("K", "V")
    val other = Seq(("1", "x")).toDF("K2", "W")
    val rules = Seq(
      "_join:Other" -> "src[K] == other[K2]",
      "V" -> "src[V]",
      "Addr" -> "formula:=self[V]")
    val e = intercept[graft.etl.dsl.Ast.DslError] {
      Engine.transform(src, rules, sheets = Map("Other" -> other))
    }
    assert(e.message.contains("ingestOrder"), e.message)
    // with an explicit order it proceeds
    assert(Engine.transform(src, rules,
      ingestOrder = Seq(col("K").cast("long")),
      sheets = Map("Other" -> other)).count() == 1)
  }

  test("_join: sheet names with path separators or .. are rejected " +
      "before any file read") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-trav")
    java.nio.file.Files.writeString(dir.resolve("Source.csv"), "K\n1\n")
    java.nio.file.Files.writeString(dir.resolve("Map.csv"),
      "out,instr\n_join:../evil,src[K] == other[K]\nK,src[K]\n")
    val e = intercept[graft.etl.dsl.Ast.DslError] {
      Engine.runMapping(s, dir.toString)
    }
    assert(e.message.contains("path separators"), e.message)
  }

  test("session-scoped plugins: two sessions' same-named plugins are " +
      "ISOLATED; a session overlay overrides a JVM-wide built-in for " +
      "that session only") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    def df(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      Seq(("a", "1")).toDF("K", "V")
    }
    Engine.registerPlugin(s1, "mine",
      (d, _) => d.withColumn("K", concat(col("K"), lit("-s1"))))
    // visible in s1
    assert(Engine.transform(df(s1), Seq("_plugin:mine" -> "",
      "K" -> "src[K]")).collect().head.getString(0) == "a-s1")
    // NOT visible in s2: parse error listing only s2's registry
    val e = intercept[graft.etl.dsl.Ast.DslError] {
      Engine.transform(df(s2), Seq("_plugin:mine" -> "",
        "K" -> "src[K]"))
    }
    assert(e.message.contains("mine"), e.message)
    // s2 can define its own 'mine' with different behavior
    Engine.registerPlugin(s2, "mine",
      (d, _) => d.withColumn("K", concat(col("K"), lit("-s2"))))
    assert(Engine.transform(df(s2), Seq("_plugin:mine" -> "",
      "K" -> "src[K]")).collect().head.getString(0) == "a-s2")
    assert(Engine.transform(df(s1), Seq("_plugin:mine" -> "",
      "K" -> "src[K]")).collect().head.getString(0) == "a-s1")
    // a session overlay shadows the JVM-wide built-in per session
    Engine.registerPlugin(s1, "upper",
      (d, _) => d.withColumn("K", lit("shadowed")))
    assert(Engine.transform(df(s1), Seq("_plugin:upper" -> "K",
      "K" -> "src[K]")).collect().head.getString(0) == "shadowed")
    assert(Engine.transform(df(s2), Seq("_plugin:upper" -> "K",
      "K" -> "src[K]")).collect().head.getString(0) == "A")
  }

  test("runMapping executes the output pipeline ONCE: the row count " +
      "rides an observe() metric on the write job, not a second " +
      "count() action (at 100 TB the old shape ran the scan twice)") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-onejob")
    java.nio.file.Files.writeString(dir.resolve("Source.csv"),
      "K,V\n1,a\n2,b\n3,c\n")
    java.nio.file.Files.writeString(dir.resolve("Map.csv"),
      "out,instr\n_filter:k,eval: src[K] >= 2\nVal,src[V]\n")
    val srcScans = new java.util.concurrent.atomic.AtomicInteger(0)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        // "FileScan csv" is the real pipeline scan; the header probe
        // reads the first line as "FileScan text" and doesn't count
        val p = qe.executedPlan.toString
        if (p.contains("Source.csv") && p.contains("FileScan csv")) {
          srcScans.incrementAndGet()
          seen.add(funcName + ": " +
            p.linesIterator.take(3).mkString(" | "))
        }
        ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      val n = Engine.runMapping(s, dir.toString,
        EngineConfig(history = "Runs"))
      assert(n == 2, s"observe metric must report the written rows, got $n")
      // the listener bus is async: wait for the write execution to
      // land, then a grace window in which a second (buggy) count
      // execution would also land
      val deadline = System.currentTimeMillis() + 10000
      while (srcScans.get() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      Thread.sleep(500)
      assert(srcScans.get() == 1,
        s"the source pipeline executed ${srcScans.get()} times, want 1: " +
          seen.toArray.mkString("\n"))
    } finally s.listenerManager.unregister(listener)
    // the history record carries the observed count
    val run = s.read.parquet(s"$dir/Runs")
      .select("rows_out", "status").collect()
    assert(run.length == 1 && run.head.getLong(0) == 2 &&
      run.head.getString(1) == "ok")
  }

  test("config parsing: defaults, unknown keys, case/trim") {
    val c = EngineConfig.fromKeyValues(Seq(
      (" SOURCE ", " S1 "), ("bogus", "x"), ("map", "")))
    assert(c == EngineConfig("S1", "Map", "Output"))
    intercept[graft.etl.dsl.Ast.DslError] { EngineConfig("", "m", "o") }
    // history key accepted; path-shaped names rejected everywhere
    assert(EngineConfig.fromKeyValues(Seq(("history", "Runs")))
      .history == "Runs")
    intercept[graft.etl.dsl.Ast.DslError] {
      EngineConfig(history = "../runs")
    }
    intercept[graft.etl.dsl.Ast.DslError] { EngineConfig(map = "a/b") }
  }

  test("run history: ok and FAILED runs both recorded (failure still " +
      "rethrown), digest tracks the rule sheet, disabled by default") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-hist")
    java.nio.file.Files.writeString(dir.resolve("Source.csv"),
      "K,V\n1,a\n2,b\n")
    java.nio.file.Files.writeString(dir.resolve("Map.csv"),
      "out,instr\n_filter:k,eval: src[K] == 1\nVal,src[V]\n")
    java.nio.file.Files.writeString(dir.resolve("MapBad.csv"),
      "out,instr\n_type:V,numeric\nVal,src[V]\n")
    // default config: no history table materializes
    Engine.runMapping(s, dir.toString)
    assert(!new java.io.File(s"$dir/Runs").exists)
    // ok run recorded
    val n = Engine.runMapping(s, dir.toString,
      EngineConfig(history = "Runs"))
    assert(n == 1)
    // failed run recorded AND rethrown
    intercept[graft.etl.dsl.Ast.DslError] {
      Engine.runMapping(s, dir.toString,
        EngineConfig(map = "MapBad", history = "Runs"))
    }
    val runs = s.read.parquet(s"$dir/Runs")
      .orderBy("ts_ms", "status")
      .select("map_sheet", "rules_digest", "rows_out", "status",
        "error")
      .collect()
    assert(runs.length == 2)
    val ok = runs.find(_.getString(3) == "ok").get
    val bad = runs.find(_.getString(3) == "error").get
    assert(ok.getString(0) == "Map" && ok.getLong(2) == 1 &&
      ok.isNullAt(4))
    assert(bad.getString(0) == "MapBad" && bad.getLong(2) == -1 &&
      bad.getString(4).contains("Type violation"), bad.toString)
    // the digest is a function of the rule sheet
    assert(ok.getString(1) != bad.getString(1))
    assert(ok.getString(1) == Engine.rulesDigest(Seq(
      "_filter:k" -> "eval: src[K] == 1", "Val" -> "src[V]")))
  }

  test("a missing Source or Map sheet is the contextual abort AND one " +
      "recorded failed run (digest null when the Map is unreadable)") {
    val s = spark
    for (missing <- Seq("Source", "Map")) {
      val dir = java.nio.file.Files.createTempDirectory("graft-nosheet")
      if (missing != "Source")
        java.nio.file.Files.writeString(dir.resolve("Source.csv"),
          "K,V\n1,a\n")
      if (missing != "Map")
        java.nio.file.Files.writeString(dir.resolve("Map.csv"),
          "out,instr\nVal,src[V]\n")
      val e = intercept[graft.etl.dsl.Ast.DslError] {
        Engine.runMapping(s, dir.toString, EngineConfig(history = "Runs"))
      }
      assert(e.message.contains(s"""Sheet "$missing" does not exist"""),
        e.message)
      val runs = s.read.parquet(s"$dir/Runs")
        .select("rules_digest", "rows_out", "status", "error").collect()
      assert(runs.length == 1, runs.toSeq)
      val r = runs.head
      assert(r.getLong(1) == -1 && r.getString(2) == "error" &&
        r.getString(3) == e.message, r)
      assert(r.isNullAt(0) == (missing == "Map"), r)
    }
  }

  test("job floor: a plain runMapping with history on fires exactly ONE " +
      "Spark job (the Output write); a _join: run fires none from a " +
      "sheet read (headers, rule table and run record stay on the driver)") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-jobfloor")
    java.nio.file.Files.writeString(dir.resolve("Source.csv"),
      "K,V\n1,a\n2,b\n3,c\n")
    java.nio.file.Files.writeString(dir.resolve("Other.csv"),
      "K,W\n1,x\n3,z\n")
    java.nio.file.Files.writeString(dir.resolve("Map.csv"),
      "out,instr\n_filter:k,eval: src[K] >= 2\nVal,src[V]\n")
    java.nio.file.Files.writeString(dir.resolve("MapJoin.csv"),
      "out,instr\n_join:Other,src[K] == other[K]\nVal,src[V]\n" +
        "W,src[W]\n")
    val cfg = EngineConfig(history = "Runs")
    // the first run creates the Output and the history table
    Engine.runMapping(s, dir.toString, cfg)
    val plain = sparkWorkOf(Engine.runMapping(s, dir.toString, cfg)).jobs
    assert(plain.length == 1, plain.mkString("\n----\n"))
    val joined = sparkWorkOf(
      Engine.runMapping(s, dir.toString, cfg.copy(map = "MapJoin"))).jobs
    assert(!joined.exists(_.contains("Engine$.readSheet")),
      joined.mkString("\n----\n"))
    assert(s.read.parquet(s"$dir/Runs").count() == 3)
  }
}
