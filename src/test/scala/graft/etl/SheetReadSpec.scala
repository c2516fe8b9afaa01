package graft.etl

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SparkSpec

/** Differential spec for the driver-side sheet reader: on every sheet
  * below, [[Engine.readSheetCsv]] (header read on the driver, schema
  * handed to the scan) and [[Engine.readSheetPairs]] (whole sheet
  * parsed on the driver) must equal Spark's own inferring CSV read.
  */
class SheetReadSpec extends SparkSpec {

  private val sheets = Seq(
    "quoted commas and doubled quotes" ->
      "rule,instr\n\"a,b\",\"say \"\"hi\"\", then go\"\n\"x\",\"\"\"\"\n",
    "blank and space-only lines around rows" ->
      "\n   \n\na,b\n\n1,2\n   \n\n3,4\n\n",
    "tab and mixed whitespace lines before the header" ->
      "\t\n \t \na,b\n\t\n1,2\n",
    "short and long rows" -> "a,b,c\n1\n1,2\n1,2,3,4,5\n,\n",
    "duplicate headers, some differing only in case" ->
      "a,A,a,b,B\n1,2,3,4,5\n6,7,8,9,10\n",
    "empty header cells" -> "a,,c,\n1,2,3,4\n,,,\n",
    "UTF-8 BOM" -> "\uFEFFa,b\n1,2\n",
    "CRLF line endings" -> "a,b\r\n1,2\r\n\r\n3,4\r\n",
    "lone-CR line endings" -> "a,b\r1,2\r3,4\r",
    "non-ASCII text" -> "名前,Ünïcødé\nçà,日本語\n\"ß,€\",ё\n",
    "header only" -> "a,b\n",
    "empty file" -> "",
    "blank lines only" -> "\n  \n")

  for ((name, text) <- sheets; caseSensitive <- Seq(false, true))
    test(s"driver-side read equals Spark's CSV read: $name " +
        s"(caseSensitive=$caseSensitive)") {
      val s = spark
      val path = Files.createTempFile("sheet", ".csv")
      Files.write(path, text.getBytes(UTF_8))
      val key = "spark.sql.caseSensitive"
      val saved = s.conf.get(key)
      s.conf.set(key, caseSensitive.toString)
      try {
        val ref = s.read.option("header", true).option("escape", "\"")
          .csv(path.toString)
        val got = Engine.readSheetCsv(s, path.toString)
        assert(got.schema == ref.schema)
        assert(got.collect().toSeq == ref.collect().toSeq)
        assert(Engine.readSheetPairs(s, path.toString) ==
          Engine.sheetPairs(ref))
      } finally s.conf.set(key, saved)
    }
}
