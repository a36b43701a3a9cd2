package dedup

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class SourcesSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  test("pages: schema-enforced parquet roundtrip; maxFiles caps sorted file list") {
    val dir = Files.createTempDirectory("pages").toString
    val ps = Synth.pages(spark, 50L)
    ps.toDF().repartition(3).write.mode("overwrite").parquet(dir)
    val back = Sources.pages(spark, dir)
    // parquet read-back forces nullable=true; names+types are the contract
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      Page.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.count() === 50L)
    val capped = Sources.pages(spark, dir, maxFiles = Some(1))
    assert(capped.count() > 0L)
    assert(capped.count() < 50L)
  }

  test("pagesJsonl: declared schema + corrupt-record surfacing") {
    val dir = Files.createTempDirectory("jsonl")
    val f = dir.resolve("docs.jsonl")
    Files.writeString(f,
      """{"url":"u1","text":"hello world","lang":"en"}
        |{"url":"u2","text":"zweite zeile","lang":"de"}
        |{not valid json
        |""".stripMargin)
    // Spark disallows querying only the corrupt-record column of a raw
    // JSON scan — cache the parsed result first (documented Spark rule)
    val df = Sources.pagesJsonl(spark, f.toString).cache()
    import org.apache.spark.sql.functions._
    assert(df.where(col("url").isNotNull).count() === 2L)
    assert(df.where(col("_corrupt_record").isNotNull).count() === 1L)
    df.unpersist()
  }

  test("pagesText: one line = one doc with stable content-hash url") {
    val dir = Files.createTempDirectory("txt")
    val f = dir.resolve("docs.txt")
    Files.writeString(f, "first doc line\nsecond doc line\n")
    val df = Sources.pagesText(spark, f.toString)
    assert(df.schema.fieldNames.toSeq === Page.schema.fieldNames.toSeq)
    val urls1 = df.select("url").collect().map(_.getString(0)).sorted
    val urls2 = Sources.pagesText(spark, f.toString)
      .select("url").collect().map(_.getString(0)).sorted
    assert(urls1.length === 2)
    assert(urls1.toSeq === urls2.toSeq)
  }
}
