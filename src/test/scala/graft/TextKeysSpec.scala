package graft

import graft.functions.TextKeys._

import org.apache.spark.sql.functions._

/** TextKeys: the formats' values, and the structural rule that no other
  * main-source file re-derives them inline (a copy could silently cross the
  * certified-md5 / internal-xxhash64 line).
  */
class TextKeysSpec extends SparkSuite {

  test("Spark-side text-format and md5-key derivations live only in TextKeys.scala") {
    val forbidden = Seq("conv(substring(md5(", "concat_ws(' ', slice(",
      "concat_ws(\" \", slice(", "chr(1), element_at(", "split(col(\"text\"), \" \")",
      "def md5l(", "def md5Long(")
    val root = java.nio.file.Paths.get("src/main/scala")
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala") && p.getFileName.toString != "TextKeys.scala") {
        val lines = java.nio.file.Files.readAllLines(p)
        var i = 0
        while (i < lines.size()) {
          forbidden.filter(lines.get(i).contains)
            .foreach(f => offenders += s"$p:${i + 1}: $f")
          i += 1
        }
      }
    }
    assert(offenders.isEmpty,
      s"inline text-format derivations outside TextKeys:\n${offenders.mkString("\n")}")
  }

  test("words, prefixWords and wordGrams keep empty fields and short texts") {
    import spark.implicits._
    val r = Seq("a b  c d", "solo").toDF("text")
      .select(words(col("text")).as("w"), prefixWords(col("text"), 3).as("p"),
        wordGrams(words(col("text")), 2).as("g2"),
        wordGrams(words(col("text")), 5).as("g5"))
      .collect()
    assert(r(0).getSeq[String](0) == Seq("a", "b", "", "c", "d"))
    assert(r(0).getString(1) == "a b ")
    assert(r(0).getSeq[String](2) == Seq("a b", "b ", " c", "c d"))
    assert(r(0).getSeq[String](3) == Seq("a b  c d"))
    assert(r(1).getString(1) == "solo")
    assert(r(1).getSeq[String](2).isEmpty && r(1).getSeq[String](3).isEmpty)
  }

  test("key families match their SQL forms; bigramWord inverts bigrams") {
    import spark.implicits._
    val df = Seq("the cat sat").toDF("text")
      .select(explode(bigrams(words(col("text")))).as("bg"))
    val r = df.select(col("bg"),
        certifiedKey(col("bg")).as("k15"),
        expr("CAST(conv(substring(md5(bg), 1, 15), 16, 10) AS BIGINT)").as("k15sql"),
        certifiedKey(col("bg"), 10).as("k10"),
        expr("CAST(conv(substring(md5(bg), 1, 10), 16, 10) AS BIGINT)").as("k10sql"),
        certifiedFingerprint(col("bg")).as("fp"),
        expr("substring(md5(bg), 1, 16)").as("fpsql"),
        internalKey(col("bg")).as("ik"), expr("xxhash64(bg)").as("iksql"),
        bigramWord(col("bg"), 0).as("w0"), bigramWord(col("bg"), 1).as("w1"))
      .collect()
    assert(r.map(_.getString(0)).toSeq == Seq("the\u0001cat", "cat\u0001sat"))
    r.foreach { row =>
      assert(row.getLong(1) == row.getLong(2) && row.getLong(3) == row.getLong(4))
      assert(row.getString(5) == row.getString(6) && row.getLong(7) == row.getLong(8))
      assert(s"${row.getString(9)}\u0001${row.getString(10)}" == row.getString(0))
    }
  }
}
