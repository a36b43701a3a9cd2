package dedup

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class IdsSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  test("orderedIds == dense 0-based rank under ascending order, at any partitioning") {
    import spark.implicits._
    val keys = scala.util.Random.shuffle((0 until 5000).map(i => i.toLong * 7 - 1000)).toSeq
    for (parts <- Seq(1, 3, 8)) {
      val df = keys.toDF("doc_id").repartition(parts)
      val got = Ids.orderedIds(df, "doc_id")
        .as[(Long, Long)].collect().toMap
      val expect = keys.sorted.zipWithIndex.map { case (k, i) => k -> i.toLong }.toMap
      assert(got === expect, s"parts=$parts")
    }
  }

  test("orderedIds: ord is dense, 0-based, and order-preserving") {
    import spark.implicits._
    val df = Seq(42L, -5L, 7L, 100L).toDF("doc_id")
    val got = Ids.orderedIds(df, "doc_id").as[(Long, Long)].collect().sortBy(_._2)
    assert(got.map(_._2).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(got.map(_._1).toSeq === Seq(-5L, 7L, 42L, 100L))
  }

  test("orderedIdsBy: per-group dense sequence in order, groups independent") {
    import spark.implicits._
    val df = Seq(("en", 30L), ("en", 10L), ("de", 5L), ("en", 20L), ("de", 1L))
      .toDF("lang", "doc_id")
    val got = Ids.orderedIdsBy(df, "lang", "doc_id")
      .select("lang", "doc_id", "ord").as[(String, Long, Long)].collect().toSet
    assert(got === Set(
      ("en", 10L, 0L), ("en", 20L, 1L), ("en", 30L, 2L),
      ("de", 1L, 0L), ("de", 5L, 1L)))
  }

  test("idCollisions: clean ids -> 0; planted alias of two contents -> counted") {
    import spark.implicits._
    val clean = Seq((1L, "aa"), (2L, "bb"), (3L, "aa")).toDF("id", "text")
    assert(Ids.idCollisions(clean, "id", "text") === 0L)
    val collided = Seq((1L, "aa"), (1L, "bb"), (2L, "cc")).toDF("id", "text")
    assert(Ids.idCollisions(collided, "id", "text") === 1L)
  }

  test("idCollisions: the min/max aggregate counts what countDistinct > 1 counts " +
      "(3-way alias, null texts, an all-null id)") {
    import spark.implicits._
    val docs = Seq[(Long, String)](
      (1L, "aa"), (1L, "bb"), (1L, "cc"), // 3-way alias
      (2L, "dd"), (2L, null), (2L, "dd"), // one text plus a null: clean
      (3L, null), (3L, null),             // every text null: clean
      (4L, "ee"), (4L, null), (4L, "ff"), // alias around a null
      (5L, "gg")).toDF("id", "text")
    val old = docs.groupBy(col("id"))
      .agg(countDistinct(md5(col("text"))).as("nh"))
      .where(col("nh") > 1)
      .count()
    assert(old === 2L)
    assert(Ids.idCollisions(docs, "id", "text") === old)
    assert(Ids.idCollisions(docs.repartition(3), "id", "text") === old)
  }
}
